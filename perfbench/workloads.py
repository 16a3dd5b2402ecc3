"""The three workloads: shapes, one pass each, and the output checks.

A pass drives the program only through its public functions and
materialises every result through the program's real sinks. A check
reads the written files back with plain Python / pyarrow (no Spark),
compares them with the generator's ground truth and returns the output
digest, which must not change from pass to pass.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import os

from perfbench.gen import FETCH_ERR, PUSH_ERR, CorpusShape, ItemsShape

ITEMS_SHAPES = {
    # the reference's own job: few titles, long serial runs
    "items_serials": ItemsShape(
        n_items=6_000, min_run=150, max_run=350, i_barcode_share=0.01,
        miss_share=0.03, http_503_share=0.01, http_500_share=0.005,
        put_fail_share=0.01, remote_factor=1.5,
    ),
    # a mixed catalog export: thousands of titles with 1-3 items each
    "items_catalog": ItemsShape(
        n_items=1_600, min_run=1, max_run=3, i_barcode_share=0.01,
        miss_share=0.10, http_503_share=0.04, http_500_share=0.02,
        put_fail_share=0.02, remote_factor=1.5,
    ),
}
CORPUS_SHAPES = {
    "corpus_dedup": CorpusShape(
        n_base=2_000, short_share=0.06, exact_share=0.04, near_share=0.05,
        far_share=0.05, pii_share=0.15,
    ),
}
WORKLOADS = (*ITEMS_SHAPES, *CORPUS_SHAPES)

ITEMS_NAME = "items.csv"


class CheckFailed(AssertionError):
    """A pass's output disagrees with the generator's ground truth."""


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


# --------------------------------------------------------------------- items


def items_pass(spark, inputs: dict, out_dir: str) -> dict:
    """The CLI chain ``-f -s -u`` (cli.main) with stage CSVs."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.pipeline import (
        format_stage,
        split_stage,
        update_stage,
    )
    from journal_batch_processer_spark.sinks.csv_sink import write_stage_csv
    from journal_batch_processer_spark.sources.csv_source import read_items_csv

    df = format_stage(read_items_csv(spark, inputs["items_csv"]))
    f_out = write_stage_csv(df, out_dir, "f_", ITEMS_NAME)
    df = split_stage(read_items_csv(spark, f_out))
    s_out = write_stage_csv(df, out_dir, "s_", os.path.basename(f_out))
    df = read_items_csv(spark, s_out)
    res = update_stage(df, spark.read.parquet(inputs["remote"]))
    name = os.path.basename(s_out)
    # the merged remote record is a struct; CSV holds it as its JSON body
    write_stage_csv(res.success.withColumn("item", F.to_json("item")),
                    out_dir, "suc_", name)
    write_stage_csv(res.error.withColumn("item", F.to_json("item")),
                    out_dir, "err_", name)
    return items_outputs(out_dir)


def items_outputs(out_dir: str) -> dict:
    return {p: os.path.join(out_dir, p + ITEMS_NAME)
            for p in ("f_", "s_", "suc_", "err_")}


def read_csv_dir(path: str) -> tuple[list[str], list[str]]:
    """(header, data lines) of a Spark CSV output directory."""
    header: list[str] = []
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as f:
            first = f.readline().rstrip("\n")
            if not first:
                continue
            header = next(csv.reader([first]))
            lines.extend(ln.rstrip("\n") for ln in f)
    if not header:
        raise CheckFailed(f"no CSV output in {path}")
    return header, lines


def _rows(header: list[str], lines: list[str], *cols: str) -> list[tuple]:
    idx = [header.index(c) for c in cols]
    reader = csv.reader(lines, escapechar="\\", doublequote=False)
    return [tuple(r[i] for i in idx) for r in reader]


def check_items(outputs: dict, truth: dict) -> str:
    n = truth["n_items"]
    for stage in ("f_", "s_"):
        _expect(f"{stage} rows", len(read_csv_dir(outputs[stage])[1]), n)
    suc_h, suc = read_csv_dir(outputs["suc_"])
    err_h, err = read_csv_dir(outputs["err_"])
    _expect("success + error rows", len(suc) + len(err), n)
    _expect("success rows", len(suc), truth["success"])

    patterns: dict[str, int] = {}
    for (p,) in _rows(suc_h, suc, "Pattern") + _rows(err_h, err, "Pattern"):
        patterns[p] = patterns.get(p, 0) + 1
    _expect("Pattern counts", patterns, truth["pattern_counts"])

    codes: dict[str, int] = {}
    for (notes,) in _rows(err_h, err, "Notes"):
        hit = [c for c in truth["error_counts"] if c != "pre_route" and c in notes]
        key = hit[0] if len(hit) == 1 else "pre_route"
        codes[key] = codes.get(key, 0) + 1
    _expect("error routing", codes, truth["error_counts"])
    for (notes,) in _rows(suc_h, suc, "Notes"):
        if FETCH_ERR in notes or PUSH_ERR in notes:
            raise CheckFailed(f"success row carries an error note: {notes!r}")

    h = hashlib.sha256()
    for tag, lines in (("suc", suc), ("err", err)):
        h.update(tag.encode())
        for ln in sorted(lines):
            h.update(ln.encode())
            h.update(b"\n")
    return h.hexdigest()


# -------------------------------------------------------------------- corpus


def corpus_pass(spark, inputs: dict, out_dir: str) -> dict:
    """Corpus lake, then near-dup clusters over the lake."""
    from journal_batch_processer_spark.corpus import write_corpus_lake
    from journal_batch_processer_spark.operators.dedup import near_dup_pairs
    from journal_batch_processer_spark.operators.graph import cluster_assignments
    from journal_batch_processer_spark.sinks.lake import write_lake

    out = corpus_outputs(out_dir)
    write_corpus_lake(spark.read.parquet(inputs["docs"]), out["lake"])
    lake = spark.read.parquet(out["lake"])
    pairs = near_dup_pairs(lake, "doc_id", "text")
    write_lake(cluster_assignments(lake, "doc_id", pairs), out["clusters"], [])
    return out


def corpus_outputs(out_dir: str) -> dict:
    return {"lake": os.path.join(out_dir, "lake"),
            "clusters": os.path.join(out_dir, "clusters")}


def check_corpus(outputs: dict, truth: dict) -> str:
    import pyarrow.parquet as pq

    lake = pq.read_table(outputs["lake"], columns=["doc_id", "split", "text"])
    ids = lake.column("doc_id").to_pylist()
    _expect("lake rows", len(ids), truth["n_lake"])
    _expect("lake doc_id unique", len(set(ids)), len(ids))
    present = set(ids)
    for grp in truth["exact_groups"]:
        _expect(f"survivors of exact group {grp}",
                [d for d in grp if d in present], grp[:1])
    for text in lake.column("text").to_pylist():
        if "@" in text:
            raise CheckFailed("unscrubbed email in the lake")

    cl = pq.read_table(outputs["clusters"])
    cluster = dict(zip(cl.column("doc_id").to_pylist(),
                       cl.column("cluster_id").to_pylist()))
    _expect("cluster rows", len(cluster), len(ids))
    for a, b in truth["near_pairs"]:
        if a not in cluster or cluster[a] != cluster.get(b):
            raise CheckFailed(f"near-duplicate pair {a}, {b} not in one cluster")

    h = hashlib.sha256()
    splits = lake.column("split").to_pylist()
    for d, s in sorted(zip(ids, splits)):
        h.update(f"{d},{s},{cluster[d]}\n".encode())
    return h.hexdigest()


# ------------------------------------------------------------ traced passes
#
# The same chains, one public layer call at a time (trace.Tracer). They
# mirror pipeline.split_stage / pipeline.update_stage /
# corpus.corpus_pipeline step by step; the traced pass must write the
# same output digest as the plain pass, which keeps the mirror honest.


def traced_items_pass(spark, tr, inputs: dict, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.functions.text import month_normalize
    from journal_batch_processer_spark.operators.desc_extract import desc_extract
    from journal_batch_processer_spark.operators.flags import (
        fill_blank_defaults,
        flag_i_barcode,
        flag_missing_barcode,
        overwrite_constants,
    )
    from journal_batch_processer_spark.operators.merge import field_merge
    from journal_batch_processer_spark.operators.natural_sort import (
        PRE_VOL_COL,
        VOL_COL,
        with_sort_keys,
    )
    from journal_batch_processer_spark.operators.routing import error_route
    from journal_batch_processer_spark.operators.year_impute import year_impute_exact
    from journal_batch_processer_spark.pipeline import format_stage
    from journal_batch_processer_spark.schema_policy import (
        DEFAULT_CONTRACT,
        ensure_columns,
        ensure_extra,
    )
    from journal_batch_processer_spark.sinks.csv_sink import write_stage_csv
    from journal_batch_processer_spark.sinks.rest_push import simulate_push
    from journal_batch_processer_spark.sources.csv_source import read_items_csv
    from journal_batch_processer_spark.sources.rest import enrich_fetch

    contract = DEFAULT_CONTRACT.expand_dependents()
    src, sink = "sources.csv_source", "sinks.csv_sink"
    split, update = "pipeline.split_stage", "pipeline.update_stage"

    raw = tr.op(src, read_items_csv, spark, inputs["items_csv"])
    df = tr.op("pipeline.format_stage", format_stage, raw)
    f_out = tr.action(sink, write_stage_csv, df, out_dir, "f_", ITEMS_NAME)

    # split_stage
    df = tr.op(src, read_items_csv, spark, f_out)
    df = tr.op(split, lambda d: overwrite_constants(fill_blank_defaults(
        ensure_extra(ensure_columns(d, contract), "Pattern", "Notes"),
        contract), contract), df)
    df = tr.keep["desc_extract"] = tr.op("operators.desc_extract", desc_extract, df)
    df = tr.op("operators.natural_sort", with_sort_keys, df)
    df = tr.keep["impute_in"] = tr.op(
        split, lambda d: flag_i_barcode(flag_missing_barcode(d)), df)
    df = tr.keep["impute_out"] = tr.op("operators.year_impute", year_impute_exact, df)
    df = tr.op(split, lambda d: d.withColumn(
        "Chron J", month_normalize(F.col("Chron J"))), df)
    df = tr.op("operators.natural_sort", lambda d: d.orderBy(
        "MMS ID", PRE_VOL_COL, VOL_COL, "Description").drop(PRE_VOL_COL, VOL_COL), df)
    s_out = tr.action(sink, write_stage_csv, df, out_dir, "s_",
                      os.path.basename(f_out))

    # update_stage
    df = tr.op(src, read_items_csv, spark, s_out)
    remote = spark.read.parquet(inputs["remote"])
    tr.keep["update_in"] = df = tr.op(
        update, lambda d: ensure_extra(ensure_columns(d, contract), "Notes"), df)
    pre_good = tr.op(update, lambda d: error_route(d).good, df)
    pre_err = tr.op(update, lambda d: error_route(d).error, df)
    enriched = tr.keep["enriched"] = tr.op("sources.rest", enrich_fetch, pre_good, remote)
    fetch_ok = tr.op(update, lambda d: d.filter(~F.col("Notes").contains("Err")), enriched)
    fetch_err = tr.op(update, lambda d: d.filter(F.col("Notes").contains("Err")), enriched)
    merged = tr.op("operators.merge", field_merge, fetch_ok)
    push_good = tr.op("sinks.rest_push", lambda d: simulate_push(d).good, merged)
    push_err = tr.op("sinks.rest_push", lambda d: simulate_push(d).error, merged)

    target = push_err.columns

    def conform(d):
        have = {c.lower() for c in d.columns}
        missing = [c for c in target if c.lower() not in have]
        if missing:
            d = d.withColumns({c: F.lit(None) for c in missing})
        return d.select(target)

    errors = tr.keep["errors"] = tr.op(update, lambda: conform(pre_err).unionByName(
        conform(fetch_err)).unionByName(push_err))
    name = os.path.basename(s_out)
    tr.action(sink, write_stage_csv, push_good.withColumn("item", F.to_json("item")),
              out_dir, "suc_", name)
    tr.action(sink, write_stage_csv, errors.withColumn("item", F.to_json("item")),
              out_dir, "err_", name)
    return items_outputs(out_dir)


def items_counts(spark, tr, outputs: dict) -> dict:
    """Layer-specific counts, read from the traced pass's checkpoints."""
    from pyspark.sql import functions as F

    from perfbench.trace import dir_stats

    k = tr.keep
    n_in = k["impute_in"].count()
    before = k["impute_in"].select("Barcode", F.col("Chron I").alias("b"))
    after = k["impute_out"].select("Barcode", F.col("Chron I").alias("a"))
    changed = before.join(after, "Barcode").filter("a <> b").count()
    n_desc = k["desc_extract"].count()
    n_fetch = k["enriched"].count()
    return {
        "operators.year_impute.groups":
            k["impute_in"].select("MMS ID").distinct().count(),
        "operators.year_impute.rows_to_python": n_in,
        "operators.year_impute.useful_ratio": changed / max(n_in, 1),
        "operators.desc_extract.match_ratio":
            k["desc_extract"].filter(F.col("Pattern") != "N/A").count() / max(n_desc, 1),
        "sources.rest.miss_ratio":
            k["enriched"].filter(F.col("Notes").endswith("Code 404")).count()
            / max(n_fetch, 1),
        "pipeline.update_stage.error_ratio":
            k["errors"].count() / max(k["update_in"].count(), 1),
        "sinks.csv_sink.mb_written": dir_stats(list(outputs.values()))[1],
    }


def _exact_dedup_split(scrubbed, id_col: str = "doc_id", text_col: str = "text"):
    """corpus.corpus_pipeline after the gate and scrub: min-id row per
    scrubbed-content hash, then the hash split."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.operators.sampling import hash_split

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    deduped = (scrubbed.withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") == 1).drop("__rn"))
    return hash_split(deduped, id_col)


def traced_corpus_pass(spark, tr, inputs: dict, out_dir: str) -> dict:
    from journal_batch_processer_spark.operators.dedup import near_dup_pairs
    from journal_batch_processer_spark.operators.graph import cluster_assignments
    from journal_batch_processer_spark.operators.text_analysis import (
        pii_scrub,
        quality_gate,
    )
    from journal_batch_processer_spark.sinks.lake import write_lake

    out = corpus_outputs(out_dir)
    docs = tr.keep["docs"] = spark.read.parquet(inputs["docs"])
    scrubbed = tr.keep["scrubbed"] = tr.op(
        "operators.text_analysis",
        lambda d: pii_scrub(quality_gate(d, "doc_id", "text", append=True)
                            .filter("keep").drop("keep"), "doc_id", "text", append=True),
        docs)
    split = tr.keep["split"] = tr.op("corpus", _exact_dedup_split, scrubbed)
    tr.action("sinks.lake", write_lake, split, out["lake"], ["split"], ["doc_id"])
    lake = tr.keep["lake"] = spark.read.parquet(out["lake"])
    pairs = tr.keep["pairs"] = tr.op("operators.dedup", near_dup_pairs, lake, "doc_id", "text")
    clusters = tr.op("operators.graph", cluster_assignments, lake, "doc_id", pairs)
    tr.action("sinks.lake", write_lake, clusters, out["clusters"], [])
    return out


def corpus_counts(spark, tr, outputs: dict) -> dict:
    from journal_batch_processer_spark import cache
    from journal_batch_processer_spark.operators.dedup import minhash_candidates
    from journal_batch_processer_spark.operators.graph import SMALL_GRAPH_EDGES

    from perfbench.trace import dir_stats

    k = tr.keep
    n_docs = k["docs"].count()
    n_scrubbed = k["scrubbed"].count()
    n_pairs = k["pairs"].count()
    # near_dup_pairs' own candidate stage, with its default banding
    cand = minhash_candidates(k["lake"], "doc_id", "text", n_hashes=32, bands=16).count()
    cache.release_all()
    files, mb = dir_stats(list(outputs.values()), ".parquet")
    return {
        "operators.text_analysis.keep_ratio": n_scrubbed / max(n_docs, 1),
        "corpus.dup_ratio": 1 - k["split"].count() / max(n_scrubbed, 1),
        "operators.dedup.candidates": cand,
        "operators.dedup.verify_ratio": n_pairs / max(cand, 1),
        "operators.graph.edges": n_pairs,
        "operators.graph.small_graph_edges": SMALL_GRAPH_EDGES,
        "sinks.lake.files": files,
        "sinks.lake.mb_written": mb,
    }
