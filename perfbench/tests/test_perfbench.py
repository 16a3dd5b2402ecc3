"""Tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, trace
from perfbench.gen import FETCH_ERR, PUSH_ERR
from perfbench.run import drift
from perfbench.workloads import CheckFailed, check_corpus, check_items

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))

SMALL_ITEMS = gen.ItemsShape(
    n_items=300, min_run=1, max_run=40, i_barcode_share=0.05, miss_share=0.1,
    http_503_share=0.05, http_500_share=0.05, put_fail_share=0.05, remote_factor=1.5,
)
SMALL_CORPUS = gen.CorpusShape(
    n_base=200, short_share=0.1, exact_share=0.05, near_share=0.05,
    far_share=0.05, pii_share=0.2,
)


# ---------------------------------------------------------------- generators


@pytest.mark.parametrize("write,shape", [
    (gen.write_items, SMALL_ITEMS),
    (gen.write_corpus, SMALL_CORPUS),
])
def test_seed_fixes_input_digest(tmp_path, write, shape):
    digests = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / name
        d.mkdir()
        digests[name] = write(str(d), shape, seed)["digest"]
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_items_truth_adds_up(tmp_path):
    g = gen.write_items(str(tmp_path), SMALL_ITEMS, 3)
    t = g["truth"]
    assert sum(t["pattern_counts"].values()) == t["n_items"] == 300
    assert t["success"] + sum(t["error_counts"].values()) == t["n_items"]
    with open(g["paths"]["items_csv"]) as f:
        assert len(f.read().splitlines()) == 301


def test_corpus_truth_is_consistent(tmp_path):
    g = gen.write_corpus(str(tmp_path), SMALL_CORPUS, 3)
    t = g["truth"]
    table = pq.read_table(g["paths"]["docs"])
    assert table.num_rows == t["n_docs"]
    ids = set(table.column("doc_id").to_pylist())
    assert len(ids) == t["n_docs"]
    text = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    for grp in t["exact_groups"]:
        assert len({text[d] for d in grp}) == 1
    for a, b in t["near_pairs"]:
        assert text[a] != text[b]
    assert t["n_lake"] == t["n_gate_kept"] - sum(len(g) - 1 for g in t["exact_groups"])


# ------------------------------------------------------------- output checks

HEADER = "MMS ID,Barcode,Pattern,Notes,item"


def _write_csv_dir(path, lines, header=HEADER):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.csv"), "w") as f:
        f.write("\n".join([header, *lines]) + "\n")


def _items_case(root, suc, err):
    out = {p: os.path.join(root, p + "items.csv") for p in ("f_", "s_", "suc_", "err_")}
    n = len(suc) + len(err)
    _write_csv_dir(out["f_"], ["x"] * n, "MMS ID")
    _write_csv_dir(out["s_"], ["x"] * n, "MMS ID")
    _write_csv_dir(out["suc_"], suc)
    _write_csv_dir(out["err_"], err)
    return out


GOOD_SUC = [
    "'99,'1,StdMatch,,\"{\\\"code\\\":\\\"ISSUE\\\",\\\"a\\\":\\\"b\\\"}\"",
    "'99,'2,SplitYears,,",
]
GOOD_ERR = [
    "'99,'3,N/A,,",
    f"'99,'4,StdMatch,{FETCH_ERR}404,",
    f"'99,'5,StdMatch,{FETCH_ERR}503,",
    f"'99,'6,YearBeforeMonth,{PUSH_ERR}409,",
]
ITEMS_TRUTH = {
    "n_items": 6,
    "success": 2,
    "pattern_counts": {"StdMatch": 3, "SplitYears": 1, "N/A": 1, "YearBeforeMonth": 1},
    "error_counts": {"pre_route": 1, FETCH_ERR + "404": 1, FETCH_ERR + "503": 1,
                     PUSH_ERR + "409": 1},
}


def test_items_check_accepts_good_output(tmp_path):
    d1 = check_items(_items_case(str(tmp_path / "a"), GOOD_SUC, GOOD_ERR), ITEMS_TRUTH)
    # digest ignores part-file row order
    d2 = check_items(_items_case(str(tmp_path / "b"), GOOD_SUC[::-1], GOOD_ERR[::-1]),
                     ITEMS_TRUTH)
    assert d1 == d2


@pytest.mark.parametrize("suc,err", [
    (GOOD_SUC[:1], GOOD_ERR),                                      # lost a row
    (GOOD_SUC, GOOD_ERR[:1] + [GOOD_ERR[1].replace("404", "503")] + GOOD_ERR[2:]),
    ([GOOD_SUC[0], GOOD_SUC[1].replace("SplitYears", "N/A")], GOOD_ERR),
    ([GOOD_SUC[0], GOOD_SUC[1].replace(",,", f",{PUSH_ERR}500,")], GOOD_ERR),
    (GOOD_SUC + [GOOD_ERR[0]], GOOD_ERR[1:]),                      # misrouted
])
def test_items_check_rejects_corruption(tmp_path, suc, err):
    with pytest.raises(CheckFailed):
        check_items(_items_case(str(tmp_path), suc, err), ITEMS_TRUTH)


CORPUS_TRUTH = {"n_lake": 4, "exact_groups": [[1, 5]], "near_pairs": [[2, 3]]}


def _corpus_case(root, ids, clusters, texts=None):
    out = {"lake": os.path.join(root, "lake"), "clusters": os.path.join(root, "clusters")}
    texts = texts or [f"doc {i}" for i in ids]
    os.makedirs(os.path.join(out["lake"], "split=train"))
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
                   os.path.join(out["lake"], "split=train", "part-0.parquet"))
    os.makedirs(out["clusters"])
    pq.write_table(
        pa.table({"doc_id": pa.array(list(clusters), pa.int64()),
                  "cluster_id": pa.array(list(clusters.values()), pa.int64())}),
        os.path.join(out["clusters"], "part-0.parquet"))
    return out


def test_corpus_check_accepts_good_output(tmp_path):
    out = _corpus_case(str(tmp_path), [1, 2, 3, 4], {1: 1, 2: 2, 3: 2, 4: 4})
    assert len(check_corpus(out, CORPUS_TRUTH)) == 64


@pytest.mark.parametrize("ids,clusters,texts", [
    ([1, 2, 3, 5], {1: 1, 2: 2, 3: 2, 5: 5}, None),             # duplicate kept
    ([2, 3, 4, 5], {2: 2, 3: 2, 4: 4, 5: 5}, None),             # wrong survivor
    ([1, 2, 3, 4], {1: 1, 2: 2, 3: 3, 4: 4}, None),             # pair split
    ([1, 2, 3], {1: 1, 2: 2, 3: 2}, None),                      # lost a doc
    ([1, 2, 3, 4], {1: 1, 2: 2, 3: 2, 4: 4},
     ["a", "b", "mail me at x@y.org", "d"]),                    # PII left
])
def test_corpus_check_rejects_corruption(tmp_path, ids, clusters, texts):
    with pytest.raises(CheckFailed):
        check_corpus(_corpus_case(str(tmp_path), ids, clusters, texts), CORPUS_TRUTH)


# ------------------------------------------------------------------ tracing


def test_event_log_parser_on_recorded_log():
    groups = trace.parse_event_log(trace.event_files(os.path.join(HERE, "data")))
    a, b = groups["layer.a"], groups["layer.b"]
    assert (a["jobs"], b["jobs"]) == (2, 4)
    assert (a["cpu_ns"], a["run_ms"], a["shuffle_bytes"]) == (313497267, 521, 364)
    assert (b["cpu_ns"], b["run_ms"], b["shuffle_bytes"]) == (104494187, 232, 364)
    # two of layer.b's jobs overlap; the union counts that time once
    assert trace.covered_s(b["intervals"]) == pytest.approx(0.289)
    m = trace.layer_metrics({"sinks.lake": 1.0}, {"sinks.lake": a})
    assert m["sinks.lake.driver_s"] == pytest.approx(1.0 - 0.726)
    assert m["sinks.lake.exec_wait_s"] == pytest.approx(0.521 - 0.313497267)
    assert m["corpus.jobs"] == 0


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    assert listed == trace.metric_catalog()
    assert len(listed) <= 128


def test_drift_ratio():
    assert drift([1.0, 1.0, 2.0, 2.0]) == 2.0
    assert drift([3.0]) == 1.0
