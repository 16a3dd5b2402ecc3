"""Regression tests for the r13 fixes.

near_dup_pairs verifies its LSH candidates on per-doc shingle arrays
(array_intersect) — the verify the prefix generators share, proven at
27M pairs at the ×100 corpus — on every input, with no count-gated
second branch. The exploded self-join of ngram_jaccard_pairs is the
exact reference it must reproduce wherever LSH recall holds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from journal_batch_processer_spark.operators import dedup


def _pairs(df):
    return {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def docs(spark):
    sf = "/root/testdata/sf0.001"
    return (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text")
        .limit(400)
    )


def test_web_scale_verify_matches_broadcast_path(spark, docs):
    # the array verify is the only path; the exploded self-join of
    # ngram_jaccard_pairs is the exact reference it must reproduce
    got = _pairs(dedup.near_dup_pairs(docs, "doc_id", "text", threshold=0.5))
    exact = _pairs(
        dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    )
    assert got, "fixture produced no near-dup pairs; test is vacuous"
    assert got == exact


def test_web_scale_verify_schema_and_threshold(spark, docs):
    out = dedup.near_dup_pairs(docs, "doc_id", "text", threshold=0.5)
    assert [f.name for f in out.schema.fields] == ["doc_a", "doc_b", "jaccard"]
    rows = out.collect()
    assert all(r["jaccard"] >= 0.5 for r in rows)
    assert all(r["doc_a"] < r["doc_b"] for r in rows)


def test_hyperplane_sign_bits_arrow_matches_expression(spark):
    """The Arrow bucket path must be bit-identical to the expression
    path — the bucket is part of dedup_embed_lsh's output semantics."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.operators.similarity import (
        _as_double,
        hyperplane_sign_bits,
        hyperplane_sign_bits_arrow,
    )

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e = embs.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).withColumns(
        {
            "b_expr": hyperplane_sign_bits(F.col("v"), 64, 8),
            "b_arrow": hyperplane_sign_bits_arrow(F.col("v"), 64, 8),
        }
    )
    diff = e.filter(F.col("b_expr") != F.col("b_arrow")).count()
    assert diff == 0
    n_buckets = e.select("b_arrow").distinct().count()
    assert n_buckets > 1  # vacuity guard: buckets actually spread


def test_pq_codes_arrow_matches_expression(spark):
    """Arrow PQ encode must be bit-identical to the expression encode
    (the SQL oracle mirrors the expression form). Compared via two
    separate plans — combining both paths in one projection makes the
    optimizer grind on the giant collapsed expression tree."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.operators.similarity import (
        _as_double,
        _pq_dist_array,
        norm_expr,
        pq_codes_arrow,
        train_pq_codebooks,
        unit_vec_arrow,
    )

    books = train_pq_codebooks(
        "/root/testdata/sf0.001/embeddings.parquet", m=16, ksub=16
    )
    m, dim = 16, 64
    dsub = dim // m
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    base = embs.select("vec_id", _as_double(F.col("embedding")).alias("__raw"))
    e = base.withColumn("__nrm", norm_expr("__raw", dim)).withColumn(
        "cv", F.transform(F.col("__raw"), lambda x: x / F.col("__nrm"))
    )
    e = e.select(
        "vec_id",
        "cv",
        *[
            _pq_dist_array("cv", book, j, dsub).alias(f"d_{j}")
            for j, book in enumerate(books)
        ],
    )
    e = e.select(
        "vec_id",
        "cv",
        F.array(
            *[
                (
                    F.array_position(
                        F.col(f"d_{j}"), F.array_min(F.col(f"d_{j}"))
                    )
                    - 1
                ).cast("int")
                for j in range(m)
            ]
        ).alias("codes"),
    )
    expr_rows = {
        r["vec_id"]: (r["codes"], tuple(r["cv"])) for r in e.collect()
    }

    a = base.select(
        "vec_id",
        pq_codes_arrow(F.col("__raw"), books, dim).alias("codes"),
        unit_vec_arrow(F.col("__raw"), dim).alias("cu"),
    )
    arrow_rows = {
        r["vec_id"]: (r["codes"], tuple(r["cu"])) for r in a.collect()
    }
    assert expr_rows.keys() == arrow_rows.keys() and len(expr_rows) > 0
    for vid, (codes, cv) in expr_rows.items():
        acodes, acu = arrow_rows[vid]
        assert codes == acodes, f"codes diverge at vec {vid}"
        assert cv == acu, f"unit vector diverges at vec {vid}"
