"""Corpus-curation operators: data-dependent domain mixing, fixed-size
per-group reservoirs, embedding k-means clustering, and SemDeDup-style
semantic deduplication.

These extend SURVEY.md §2i (EXT) — the reference (BatchUpdate.py) has
no equivalent surface. They are the curation stages between dedup and
tokenization in a 100 TB pretraining pipeline: rebalance the crawl to
the target language/domain mix, pull bounded per-stratum audit
samples, cluster the embedding space, and drop semantic near-dups
cluster-locally (SemDeDup: arXiv 2303.09540 — the published recipe,
reimplemented on Spark primitives).

Oracle discipline: rate arithmetic is integer (ppm) and membership is
md5-hex thresholds, so corpus_mix / sample_reservoir are hash-exact;
the embedding keys inline deterministically-trained centroid literals
into BOTH engines (the sim_search_ivf pattern) so cluster assignment,
pair cosines, and the kept/dropped verdicts are value-checked at full
precision (cosines rounded to 6 only at the output boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from journal_batch_processer_spark.queries.llmops import (
    _DOT_SQL,
    _NORM_CTE,
    EMB_DIM,
    _docs,
    _embs,
)
from journal_batch_processer_spark.session import oracle_sf_dir

# ---------------------------------------------------------------------------
# corpus mixing
# ---------------------------------------------------------------------------

# target output mix: en 40%, zh/de/fr 20% each; es dropped. On the
# sf fixtures en/zh/de are downsampled and fr is the scarcest stratum
# (kept whole — exercises the 'g' full-rate sentinel).
MIX_SHARES_PPM = {"en": 400_000, "zh": 200_000, "de": 200_000, "fr": 200_000}


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus to a target language mix. Rates are derived
    from the DATA (scarcest stratum kept whole, others downsampled to
    match), not fixed fractions — the real mixing step, distinct from
    sample_stratified's static rates. Integer ppm arithmetic + md5
    thresholds make the kept set hash-exact across engines."""
    from journal_batch_processer_spark.operators.sampling import corpus_mix

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return corpus_mix(docs, "doc_id", "lang", MIX_SHARES_PPM).select(
        "doc_id", "lang", "keep_ppm"
    )


def _mix_case_sql() -> str:
    return (
        "CASE lang "
        + " ".join(
            f"WHEN '{s}' THEN CAST({ppm} AS BIGINT)"
            for s, ppm in MIX_SHARES_PPM.items()
        )
        + " END"
    )


SQL_CORPUS_MIX = f"""
WITH c AS (
    SELECT lang, COUNT(*) AS cnt, {_mix_case_sql()} AS share_ppm
    FROM documents
    WHERE lang IN ({", ".join(f"'{s}'" for s in MIX_SHARES_PPM)})
    GROUP BY lang
),
t AS (
    SELECT lang, cnt, share_ppm,
           MIN((cnt * 1000000) // share_ppm) OVER () AS t_total
    FROM c
),
r AS (
    SELECT lang,
           CAST(LEAST(
               1000000,
               (((t_total * share_ppm) // 1000000) * 1000000) // cnt
           ) AS BIGINT) AS keep_ppm
    FROM t
),
th AS (
    SELECT lang, keep_ppm,
           CASE WHEN keep_ppm >= 1000000 THEN 'g'
                ELSE lower(lpad(hex((keep_ppm * 16777216) // 1000000),
                                6, '0'))
           END AS thr
    FROM r
)
SELECT d.doc_id, d.lang, th.keep_ppm
FROM documents d JOIN th ON d.lang = th.lang
WHERE substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 6) < th.thr
"""


# ---------------------------------------------------------------------------
# temperature sampling
# ---------------------------------------------------------------------------


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (α=0.5) corpus rebalancing over languages: keep rate
    per stratum is sqrt(n_min/n_s) — low-resource languages kept whole,
    high-resource downsampled toward the n_s^α target mix (the XLM-R /
    mT5 multilingual sampling recipe, r06). sqrt is IEEE-correctly-
    rounded in both engines, so keep_ppm and the md5-threshold kept set
    are hash-exact (operators/sampling.temperature_sample)."""
    from journal_batch_processer_spark.operators.sampling import (
        temperature_sample,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return temperature_sample(docs, "doc_id", "lang").select(
        "doc_id", "lang", "keep_ppm"
    )


SQL_SAMPLE_TEMPERATURE = """
WITH c AS (
    SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
),
t AS (
    SELECT lang, cnt, MIN(cnt) OVER () AS n_min FROM c
),
r AS (
    SELECT lang,
           CAST(FLOOR(1000000.0 * SQRT(CAST(n_min AS DOUBLE) / cnt))
                AS BIGINT) AS keep_ppm
    FROM t
),
th AS (
    SELECT lang, keep_ppm,
           CASE WHEN keep_ppm >= 1000000 THEN 'g'
                ELSE lower(lpad(hex((keep_ppm * 16777216) // 1000000),
                                6, '0'))
           END AS thr
    FROM r
)
SELECT d.doc_id, d.lang, th.keep_ppm
FROM documents d JOIN th ON d.lang = th.lang
WHERE substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 6) < th.thr
"""


# ---------------------------------------------------------------------------
# per-group reservoir
# ---------------------------------------------------------------------------

RESERVOIR_K = 10


def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic per-language sample (k=10): the audit /
    eval-slice puller. Runs two-level (per-salt-cell top-k, then
    per-group re-rank) so no single task ever holds a whole group —
    the oracle checks it against the naive single-window form, proving
    the two-level rewrite exact."""
    from journal_batch_processer_spark.operators.sampling import (
        reservoir_per_group,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return reservoir_per_group(docs, "lang", "doc_id", RESERVOIR_K).select(
        "doc_id", "lang", "rn"
    )


SQL_SAMPLE_RESERVOIR = f"""
SELECT doc_id, lang, CAST(rn AS INTEGER) AS rn FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('res:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM documents
) WHERE rn <= {RESERVOIR_K}
"""


# ---------------------------------------------------------------------------
# embedding k-means clustering + SemDeDup
# ---------------------------------------------------------------------------

SEMANTIC_TAU = 0.4  # near-dup threshold (matches dedup_embed's sweep)
_N_CLUSTERS = 16  # floor; k scales with the corpus (see _n_clusters)
_TARGET_CELL = 500  # expected vectors per cell the pair join budgets for


def _n_clusters(sf_dir: str) -> int:
    """Cluster count scales with corpus size (r06): SemDeDup's pair
    join costs Σ|cell|², so a FIXED k degrades quadratically as the
    corpus grows (k=16 at 10×-sf0.1 meant 1250-vector cells → 360s;
    k=n/500 keeps expected cell size bounded at ~500). Ceiling of
    sample_cap/8 because centroids train on a 4096-vector sample —
    past that you train hierarchically (coarse then per-cell), which
    the 100 TB deployment would do outside the oracle-checked path.
    At the driver's sf0.01 (500 vectors) this returns the same 16 the
    key always used. Both engines derive k from the same parquet, so
    the inlined literals stay bit-identical."""
    import os as _os

    import duckdb

    p = _os.path.join(sf_dir, "embeddings.parquet")
    n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
    return min(max(_N_CLUSTERS, n // _TARGET_CELL), 4096 // 8)


def _centroids(sf_dir: str) -> list[list[float]]:
    import os as _os

    from journal_batch_processer_spark.operators.similarity import (
        train_ivf_centroids,
    )

    return train_ivf_centroids(
        _os.path.join(sf_dir, "embeddings.parquet"),
        n_centroids=_n_clusters(sf_dir),
    )


def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering: every embedding assigned to its nearest
    deterministic spherical-k-means centroid (the clustered layout
    behind IVF partition pruning, diversity balancing, and SemDeDup).
    Centroid literals inline into both engines, so assignments AND the
    centroid cosine are value-checked; cell balance asserted in
    tests."""
    from journal_batch_processer_spark.operators.similarity import (
        assign_nearest_centroid,
    )

    embs = _embs(spark, sf_dir)
    a = assign_nearest_centroid(embs, _centroids(sf_dir), EMB_DIM)
    return a.select(
        "vec_id", "cell", F.round("csim", 6).alias("cos_centroid")
    )


def _assigned_cte(cents: list[list[float]]) -> str:
    """Shared oracle CTE: nearest-centroid assignment with the trained
    literals (the _ivf_oracle_sql pattern — llmops.py:800).

    The winner is picked with max(struct(sim, -cell)) + join-back, not
    ROW_NUMBER over the scored cross join: the window sort carries the
    full DOUBLE[128] vector through |corpus|·k rows (80 GB of sort
    input at the 100× sweep's 200k×400 — the query never finished),
    while the narrow aggregate + one equi join runs the same
    assignment in ~130 s. Tie rule identical (sim DESC, cell ASC);
    the sim expression text is unchanged, so the winning float is the
    bit-same value the Spark side computes."""
    vals = ",\n        ".join(
        f"({i}, [{', '.join(repr(v) for v in c)}])"
        for i, c in enumerate(cents)
    )
    dot_ec = _DOT_SQL.replace("a.", "e.").replace("b.", "c2.")
    return f"""{_NORM_CTE},
cents AS (
    SELECT cell, v,
           sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                        i -> v[i] * v[i]))) AS nrm
    FROM (
        SELECT CAST(cell AS BIGINT) AS cell, v::DOUBLE[] AS v
        FROM (VALUES {vals}) t(cell, v)
    )
),
__scored AS (
    SELECT e.vec_id, c2.cell, ({dot_ec} / (e.nrm * c2.nrm)) AS sim
    FROM e CROSS JOIN cents c2
),
__best AS (
    SELECT vec_id, max(struct_pack(s := sim, c := -cell)) AS b
    FROM __scored GROUP BY vec_id
),
assigned AS (
    SELECT e.vec_id, e.v, e.nrm,
           -struct_extract(__best.b, 'c') AS cell,
           struct_extract(__best.b, 's') AS sim
    FROM e JOIN __best ON e.vec_id = __best.vec_id
)"""


def _embed_kmeans_oracle_sql() -> str:
    sf_dir = oracle_sf_dir()
    return f"""
WITH {_assigned_cte(_centroids(sf_dir))}
SELECT vec_id, cell, ROUND(sim, 6) AS cos_centroid FROM assigned
"""


SQL_EMBED_KMEANS = _embed_kmeans_oracle_sql  # lazy: trains from fixture


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: within each trained cluster, drop any vector that has
    an exact-cosine near-duplicate (≥ 0.4) closer to the centroid
    (ties → lower id). Cell-equi pair join — candidates are Σ|cell|²,
    never corpus² — with the kept/dropped verdict value-checked for
    every vector."""
    from journal_batch_processer_spark.operators.similarity import (
        semantic_dedup,
    )

    embs = _embs(spark, sf_dir)
    return semantic_dedup(embs, _centroids(sf_dir), EMB_DIM, SEMANTIC_TAU)


def _dedup_semantic_oracle_sql() -> str:
    sf_dir = oracle_sf_dir()
    dot_xy = _DOT_SQL.replace("a.", "x.").replace("b.", "y.")
    return f"""
WITH {_assigned_cte(_centroids(sf_dir))},
dropped AS (
    SELECT DISTINCT x.vec_id
    FROM assigned x JOIN assigned y
      ON x.cell = y.cell AND x.vec_id <> y.vec_id
    WHERE ({dot_xy} / (x.nrm * y.nrm)) >= {SEMANTIC_TAU}
      AND (y.sim > x.sim OR (y.sim = x.sim AND y.vec_id < x.vec_id))
)
SELECT a.vec_id, a.cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


SQL_DEDUP_SEMANTIC = _dedup_semantic_oracle_sql  # lazy: trains from fixture


QUERIES = {
    "corpus_mix": (q_corpus_mix, SQL_CORPUS_MIX),
    "sample_reservoir": (q_sample_reservoir, SQL_SAMPLE_RESERVOIR),
    "sample_temperature": (q_sample_temperature, SQL_SAMPLE_TEMPERATURE),
    "embed_kmeans": (q_embed_kmeans, SQL_EMBED_KMEANS),
    "dedup_semantic": (q_dedup_semantic, SQL_DEDUP_SEMANTIC),
}


# ---------------------------------------------------------------------------
# distributed integer k-means
# ---------------------------------------------------------------------------

KMI_K = 8
KMI_ITERS = 3


def q_kmeans_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means executed ON the cluster (assign =
    broadcast join, centroid update = per-(cluster, dim) aggregation)
    — the training loop itself, not the driver-side sampled trainer.
    Exactness comes from GLOBAL integer quantization: every distance
    and centroid mean is integer arithmetic, so the 3-round run is
    bit-reproducible and the unrolled SQL oracle hash-matches the
    final assignment — a distributed iterative ML training loop under
    a full value oracle."""
    from journal_batch_processer_spark.operators.similarity import (
        kmeans_integer_distributed,
    )

    embs = _embs(spark, sf_dir)
    # exact row count from the parquet footers (driver-side metadata
    # read, no Spark job): _embs is an un-filtered row-preserving scan,
    # so the footer count IS the corpus size the operator's scale gate
    # needs — r14, replaces the gate's count() job (the interleaved A/B
    # in OPTIMIZATION_r14.md §2 showed it cost ~0.2 s at sf0.1)
    import os as _os

    from journal_batch_processer_spark.metadata import parquet_row_count

    n_rows = parquet_row_count(_os.path.join(sf_dir, "embeddings.parquet"))
    return kmeans_integer_distributed(
        embs, k=KMI_K, n_iters=KMI_ITERS, dim=EMB_DIM, n_rows=n_rows
    )


def _kmi_oracle_sql(k: int = KMI_K, n_iters: int = KMI_ITERS) -> str:
    from journal_batch_processer_spark.operators.similarity import (
        KMI_SCALE,
    )

    dist = (
        "list_sum(list_transform(range(1, "
        f"{EMB_DIM + 1}), i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))"
    )
    parts = [
        "WITH q AS MATERIALIZED (",
        "  SELECT vec_id,",
        "         list_transform(embedding,",
        f"             x -> CAST(floor(CAST(x AS DOUBLE) * {KMI_SCALE} + 5e-1)",
        "                       AS BIGINT)) AS qv",
        "  FROM embeddings",
        "),",
        "c0 AS MATERIALIZED (",
        f"  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)",
        "             AS cluster, qv AS cv",
        "  FROM (",
        "    SELECT vec_id, qv FROM q",
        "    ORDER BY md5('kmi:' || CAST(vec_id AS VARCHAR)), vec_id",
        f"    LIMIT {k}",
        "  )",
        "),",
    ]
    for r in range(1, n_iters + 1):
        parts += [
            f"a{r} AS MATERIALIZED (",
            "  SELECT vec_id, qv, cluster, dist FROM (",
            f"    SELECT q.vec_id, q.qv, c.cluster, {dist} AS dist,",
            "           ROW_NUMBER() OVER (",
            f"               PARTITION BY q.vec_id ORDER BY {dist}, c.cluster",
            "           ) AS rn",
            f"    FROM q CROSS JOIN c{r - 1} c",
            "  ) WHERE rn = 1",
            "),",
            f"c{r} AS MATERIALIZED (",
            "  SELECT p.cluster, COALESCE(s.cv, p.cv) AS cv",
            f"  FROM c{r - 1} p LEFT JOIN (",
            "    SELECT cluster, list(qsum // qn ORDER BY d) AS cv FROM (",
            "      SELECT cluster, d, SUM(qv[d]) AS qsum, COUNT(*) AS qn",
            f"      FROM a{r}, UNNEST(generate_series(1, {EMB_DIM})) t(d)",
            "      GROUP BY 1, 2",
            "    ) GROUP BY cluster",
            "  ) s ON p.cluster = s.cluster",
            "),",
        ]
    parts += [
        "f AS (",
        "  SELECT vec_id, cluster, dist FROM (",
        f"    SELECT q.vec_id, c.cluster, {dist} AS dist,",
        "           ROW_NUMBER() OVER (",
        f"               PARTITION BY q.vec_id ORDER BY {dist}, c.cluster",
        "           ) AS rn",
        f"    FROM q CROSS JOIN c{n_iters} c",
        "  ) WHERE rn = 1",
        ")",
        "SELECT vec_id, cluster, CAST(dist AS BIGINT) AS dist FROM f",
    ]
    return "\n".join(parts)


SQL_KMEANS_DISTRIBUTED = _kmi_oracle_sql()


QUERIES["kmeans_distributed"] = (q_kmeans_distributed, SQL_KMEANS_DISTRIBUTED)
