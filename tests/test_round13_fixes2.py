"""r13 optimization pins: shared delta band table in the incremental
dedup-index path.

q_dedup_index_incremental now bands the change-feed insert rows ONCE
and feeds the same (pinned) band table to both index maintenance
(``fresh_bands``) and the probe (``delta_bands``). Valid because the
2→3 feed spans a single commit — the final-insert winners are exactly
the insert rows. These tests pin that the shared-band shape stays
row-identical to the default (band-twice) path, and that the
single-commit equivalence it relies on holds.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from journal_batch_processer_spark.operators.dedup import (
    apply_index_changes,
    banded_signatures,
    probe_band_index,
)


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _mk_changes(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, _change string, _commit_version int"
    )


def test_shared_delta_bands_match_default_path(spark):
    corpus = _mk_docs(
        spark,
        [(i, f"alpha beta gamma delta epsilon zeta token{i} eta theta") for i in range(40)],
    )
    # single-commit feed: one update (delete+insert) + two pure inserts
    changes = _mk_changes(
        spark,
        [
            (7, "alpha beta gamma delta epsilon zeta token7 eta theta", "delete", 3),
            (7, "alpha beta gamma delta epsilon zeta token7 eta theta updated", "insert", 3),
            (100, "alpha beta gamma delta epsilon zeta token1 eta theta", "insert", 3),
            (101, "totally different words nothing shared here at all", "insert", 3),
        ],
    )
    idx0 = banded_signatures(corpus, "doc_id", "text")
    delta = changes.filter(F.col("_change") == "insert").select("doc_id", "text")

    # default path: maintenance and probe each band independently
    idx_a = apply_index_changes(idx0, changes, "doc_id", "text")
    out_a = probe_band_index(idx_a, delta, "doc_id", "text")

    # shared path: one band table for both
    delta_b = banded_signatures(delta, "doc_id", "text")
    idx_b = apply_index_changes(
        idx0, changes, "doc_id", "text", fresh_bands=delta_b
    )
    out_b = probe_band_index(
        idx_b, delta, "doc_id", "text", delta_bands=delta_b
    )

    rows_a = sorted(tuple(r) for r in out_a.collect())
    rows_b = sorted(tuple(r) for r in out_b.collect())
    assert rows_a == rows_b and len(rows_a) > 0
    # the maintained indexes themselves must match row-for-row too
    ia = sorted(tuple(r) for r in idx_a.collect())
    ib = sorted(tuple(r) for r in idx_b.collect())
    assert ia == ib


def test_multi_commit_feed_still_uses_default_path_semantics(spark):
    """fresh_bands is an opt-in for single-commit feeds only; the
    DEFAULT path must keep netting out a doc inserted then deleted
    across commits (the contract the shared shape must not erode)."""
    corpus = _mk_docs(
        spark, [(i, f"alpha beta gamma delta tok{i} epsilon zeta") for i in range(10)]
    )
    changes = _mk_changes(
        spark,
        [
            (50, "alpha beta gamma delta tok1 epsilon zeta", "insert", 3),
            (50, "alpha beta gamma delta tok1 epsilon zeta", "delete", 4),
        ],
    )
    idx0 = banded_signatures(corpus, "doc_id", "text")
    idx = apply_index_changes(idx0, changes, "doc_id", "text")
    assert idx.filter(F.col("doc") == 50).count() == 0


def test_kmi_assign_arrow_matches_expression(spark):
    """The Arrow integer-kmeans assignment must be bit-identical to
    the expression form (the SQL oracle mirrors the expression)."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.operators.similarity import (
        KMI_SCALE,
        kmi_assign_arrow,
        kmi_assign_expr,
    )

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = embs.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
            f"* {KMI_SCALE} + 0.5D) AS BIGINT))"
        ).alias("qv"),
    )
    # deterministic "awkward" centroids incl. duplicates (tie-break)
    cents = [r["qv"] for r in q.orderBy("vec_id").limit(4).collect()]
    cents = [list(c) for c in cents] + [list(cents[0])]  # dup forces tie
    e = q.withColumns(
        {
            "b_expr": F.expr(kmi_assign_expr(cents)),
            "b_arrow": kmi_assign_arrow(cents)(F.col("qv")),
        }
    )
    diff = e.filter(
        (F.col("b_expr.cluster") != F.col("b_arrow.cluster"))
        | (F.col("b_expr.dist") != F.col("b_arrow.dist"))
    ).count()
    assert diff == 0
    n = e.count()
    assert n > 0
    # tie-break vacuity guard: the duplicated centroid (cluster 4)
    # must never win against its identical cluster 0
    assert e.filter(F.col("b_arrow.cluster") == 4).count() == 0


def test_kmi_round_partials_match_explode_sums(spark):
    """The fused Arrow round pass (assign + partial sums) must equal
    the expression-assign + posexplode + groupBy-sum shape exactly."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.operators.similarity import (
        KMI_SCALE,
        kmi_assign_expr,
        kmi_round_partials_arrow,
    )

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = embs.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
            f"* {KMI_SCALE} + 0.5D) AS BIGINT))"
        ).alias("qv"),
    )
    cents = [list(r["qv"]) for r in q.orderBy("vec_id").limit(3).collect()]

    a = q.select("qv", F.expr(kmi_assign_expr(cents)).alias("__best")).select(
        "qv", F.col("__best.cluster").alias("cluster")
    )
    want = {
        (r["cluster"], r["d"]): (r["s"], r["n"])
        for r in a.select("cluster", F.posexplode("qv").alias("d", "v"))
        .groupBy("cluster", "d")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        (r["cluster"], r["d"]): (r["s"], r["n"])
        for r in q.select("qv")
        .mapInPandas(
            kmi_round_partials_arrow(cents),
            "cluster int, d int, s bigint, n bigint",
        )
        .groupBy("cluster", "d")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_blocked_links_matches_union_branch_build(spark):
    """The r13 single-explode edge build emits the identical directed
    edge multiset (and symmetric union) as the old one-union-branch-
    per-generator shape, including the lim gate, self-loop drop, and
    the partial last block — pinned on an n that is NOT a multiple of
    LPA_BLOCK so the wrap-within-block-size arm is exercised."""
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.queries.trainprep import (
        KCORE_GENS,
        LPA_BLOCK,
        _blocked_links,
    )

    n = 2 * LPA_BLOCK + 17  # partial last block
    nodes = spark.range(n).select(F.col("id").alias("node"))

    def union_reference(gens, symmetric):
        e = None
        for a, c, lim in gens:
            bs = F.least(
                F.lit(LPA_BLOCK),
                F.lit(n) - (F.col("node") - F.col("node") % LPA_BLOCK),
            )
            part = nodes.filter(F.col("node") % LPA_BLOCK < lim).select(
                F.col("node").alias("src"),
                (
                    (F.col("node") - F.col("node") % LPA_BLOCK)
                    + (F.col("node") * a + c) % bs
                ).alias("dst"),
            )
            e = part if e is None else e.unionAll(part)
        e = e.filter(F.col("src") != F.col("dst"))
        if symmetric:
            e = e.union(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
        return e

    lpa_gens = tuple((a, c, LPA_BLOCK) for a, c in ((3, 1), (7, 11), (1, 1)))
    for gens in (lpa_gens, KCORE_GENS):
        for symmetric in (False, True):
            got = sorted(
                tuple(r)
                for r in _blocked_links(
                    nodes, n, gens, symmetric=symmetric
                ).collect()
            )
            want = sorted(
                tuple(r) for r in union_reference(gens, symmetric).collect()
            )
            assert got == want and len(got) > 0


def test_small_graph_driver_rounds_match_distributed(spark):
    """The r13 small-graph driver paths for kcore / labelprop are
    bit-identical to the distributed fixed-round loops, pinned on the
    real blocked fixture graph (partial last block, isolated tail
    nodes, duplicate neighbor values for the h-index tie order)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from journal_batch_processer_spark.operators.graph import (
        hindex_coreness_small,
        lpa_labels_small,
    )
    from journal_batch_processer_spark.queries.trainprep import (
        KCORE_GENS,
        KCORE_ITERS,
        LPA_BLOCK,
        LPA_ITERS,
        _blocked_links,
    )

    n = 3 * LPA_BLOCK + 23  # partial last block
    nodes = spark.range(n).select(F.col("id").alias("node"))

    def distributed_kcore(edges):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        cur = nodes.join(deg, nodes.node == deg.src, "left").select(
            "node", F.coalesce("d", F.lit(0)).cast("long").alias("c")
        )
        w = Window.partitionBy("src").orderBy(F.col("nc").desc())
        for _ in range(KCORE_ITERS):
            nbr = edges.join(
                cur.select(F.col("node").alias("dst"), F.col("c").alias("nc")),
                "dst",
            ).select("src", "nc")
            h = (
                nbr.withColumn("rn", F.row_number().over(w))
                .groupBy("src")
                .agg(F.max(F.least(F.col("rn"), F.col("nc"))).alias("h"))
            )
            cur = cur.join(h, cur.node == h.src, "left").select(
                "node", F.coalesce("h", F.lit(0)).cast("long").alias("c")
            )
        return {r[0]: r[1] for r in cur.collect()}

    def distributed_lpa(edges):
        labels = nodes.select("node", F.col("node").alias("lbl"))
        for _ in range(LPA_ITERS):
            votes = (
                edges.join(
                    labels.select(F.col("node").alias("dst"), "lbl"), "dst"
                )
                .groupBy("src", "lbl")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            best = (
                votes.groupBy("src")
                .agg(
                    F.min(
                        F.struct((-F.col("c")).alias("nc"), "lbl")
                    ).alias("b")
                )
                .select("src", F.col("b.lbl").alias("new_lbl"))
            )
            labels = labels.join(best, labels.node == best.src, "left").select(
                "node", F.coalesce("new_lbl", "lbl").alias("lbl")
            )
        return {r[0]: r[1] for r in labels.collect()}

    from journal_batch_processer_spark.queries.trainprep import (
        _blocked_links_small,
    )

    node_ids = list(range(n))

    k_edges = _blocked_links(nodes, n, KCORE_GENS, symmetric=True).distinct()
    k_rows = [(r[0], r[1]) for r in k_edges.collect()]
    # the Python edge generator equals the distributed build + distinct
    assert _blocked_links_small(node_ids, n, KCORE_GENS) == set(k_rows)
    got_k = hindex_coreness_small(k_rows, node_ids, KCORE_ITERS)
    want_k = distributed_kcore(k_edges)
    assert got_k == want_k
    assert len(set(want_k.values())) > 2  # coreness gradient is real

    lpa_gens = tuple((a, c, LPA_BLOCK) for a, c in ((3, 1), (7, 11), (1, 1)))
    l_edges = _blocked_links(nodes, n, lpa_gens, symmetric=True).distinct()
    l_rows = [(r[0], r[1]) for r in l_edges.collect()]
    assert _blocked_links_small(node_ids, n, lpa_gens) == set(l_rows)
    got_l = lpa_labels_small(l_rows, node_ids, LPA_ITERS)
    want_l = distributed_lpa(l_edges)
    assert got_l == want_l
    assert len(set(want_l.values())) > 1
