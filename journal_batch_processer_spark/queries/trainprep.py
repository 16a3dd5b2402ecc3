"""Training-data preparation operators beyond the r04 surface: document
chunking, sequence packing, keyword extraction, n-gram LM counts,
embedding quantization, iterative PageRank, event funnels, and
sub-document chunk dedup.

These extend SURVEY.md §2i (EXT). The reference
(BatchUpdate.py) has no equivalent surface — these are the operations a
100 TB pretraining pipeline runs between raw ingest and tokenization:
split long documents into model-window chunks, pack short ones into
dense training sequences, build corpus-level n-gram/keyword statistics,
compress embeddings for ANN serving, rank pages by link structure, and
drop boilerplate chunks shared across documents.

Oracle discipline (same rules the r05 notes record): every key carries
a FULL DuckDB value oracle; floating-point is avoided in favor of
integer arithmetic wherever a ranking or iteration would otherwise
depend on summation order (integer-scaled tf-idf scores, integer
PageRank mass), and the only doubles emitted (quantization scale) are
single widened floats, bit-exact across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from journal_batch_processer_spark.operators.graph import (
    SMALL_GRAPH_EDGES,
    hindex_coreness_small,
    lpa_labels_small,
)
from journal_batch_processer_spark.queries.llmops import _docs, _embs
from journal_batch_processer_spark.session import load_events, small_input

# ---------------------------------------------------------------------------
# chunking & packing
# ---------------------------------------------------------------------------

CHUNK_WINDOW = 50  # tokens per chunk
CHUNK_STRIDE = 30  # tokens between chunk starts (overlap = 20)
PACK_CAP = 256  # tokens per packed training sequence


def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (the RAG / long-context prep
    staple): each document becomes ceil((n-W)/S)+1 overlapping chunks
    of ≤50 tokens with stride 30. Expression-only — `sequence` +
    `posexplode` generate chunk starts JVM-side and `slice` cuts the
    token array; no Python, no shuffle at all (narrow map over the
    scan), so at 100 TB this is pure scan-bound throughput."""
    docs = _docs(spark, sf_dir)
    t = F.split(F.col("text"), " ")
    docs = docs.select("doc_id", t.alias("t"), F.size(t).alias("n_tokens"))
    pos = F.posexplode(
        F.sequence(F.lit(0), F.col("n_tokens") - 1, F.lit(CHUNK_STRIDE))
    )
    chunked = docs.select(
        "doc_id", "t", "n_tokens", pos.alias("chunk_idx", "chunk_start")
    )
    chunk_len = F.least(
        F.lit(CHUNK_WINDOW), F.col("n_tokens") - F.col("chunk_start")
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        "chunk_start",
        chunk_len.alias("chunk_len"),
        F.concat_ws(
            " ", F.slice(F.col("t"), F.col("chunk_start") + 1, chunk_len)
        ).alias("chunk_text"),
    )


SQL_CHUNK_SLIDING = f"""
WITH tk AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
st AS (
    SELECT doc_id, t, len(t) AS n_tokens,
           UNNEST(generate_series(0, len(t) - 1, {CHUNK_STRIDE})) AS chunk_start
    FROM tk
)
SELECT doc_id,
       chunk_start // {CHUNK_STRIDE} AS chunk_idx,
       chunk_start,
       LEAST({CHUNK_WINDOW}, n_tokens - chunk_start) AS chunk_len,
       array_to_string(
           list_slice(t, chunk_start + 1,
                      LEAST(chunk_start + {CHUNK_WINDOW}, n_tokens)), ' '
       ) AS chunk_text
FROM st
"""


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk): documents are laid end to
    end in doc_id order and cut into 256-token training sequences; a
    document spanning a boundary is split across bins. Output is the
    packing manifest — (source, bin, doc, in-doc segment) — which is
    what a tokenizer shard consumes.

    Scale shape: the running token offset is a window cumsum
    partitioned by `source`, NOT a single global ordering — each
    source packs independently and in parallel (a global ORDER BY
    window would serialize 100 TB through one task). All arithmetic is
    integer, so the oracle is hash-exact."""
    docs = _docs(spark, sf_dir).select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = docs.select(
        "source",
        "doc_id",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("start"),
    ).withColumn("end", F.col("start") + F.col("n_tokens"))
    spans = spans.select(
        "source",
        "doc_id",
        "start",
        "end",
        F.explode(
            F.sequence(
                F.expr(f"start div {PACK_CAP}"), F.expr(f"(end - 1) div {PACK_CAP}")
            )
        ).alias("bin_id"),
    )
    seg_lo = F.greatest(F.col("start"), F.col("bin_id") * PACK_CAP)
    seg_hi = F.least(F.col("end"), (F.col("bin_id") + 1) * PACK_CAP)
    return spans.select(
        "source",
        "bin_id",
        "doc_id",
        (seg_lo - F.col("start")).alias("seg_start"),
        (seg_hi - seg_lo).alias("seg_len"),
    )


SQL_SEQ_PACK = f"""
WITH spans AS (
    SELECT source, doc_id,
           COALESCE(SUM(len(string_split(text, ' '))) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS start,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
),
bins AS (
    SELECT source, doc_id, start, start + n_tokens AS "end",
           UNNEST(generate_series(CAST(start // {PACK_CAP} AS BIGINT),
                                  CAST((start + n_tokens - 1) // {PACK_CAP} AS BIGINT))) AS bin_id
    FROM spans
)
SELECT source, bin_id, doc_id,
       CAST(GREATEST(start, bin_id * {PACK_CAP}) - start AS BIGINT) AS seg_start,
       CAST(LEAST("end", (bin_id + 1) * {PACK_CAP})
           - GREATEST(start, bin_id * {PACK_CAP}) AS BIGINT) AS seg_len
FROM bins
"""


# ---------------------------------------------------------------------------
# corpus statistics: keywords & n-gram LM counts
# ---------------------------------------------------------------------------


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-5 tokens by tf-idf. The
    score is integer-scaled linear idf — (k * 1e9) div df — because a
    log-idf double score would make the RANKING depend on both
    engines' libm and summation; the constant corpus-size factor N
    cancels out of a per-document ranking, and integer division is
    bit-identical everywhere. Ties break on token text, so the top-5
    cut is total-ordered and the oracle hash-exact.

    Scale shape: two shuffles (doc-term counts, then document
    frequency) + one broadcast-size df join per vocab shard; the
    window top-k partitions by doc_id, never globally."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("k"))
    dfreq = counts.groupBy("tok").agg(F.count(F.lit(1)).alias("df_cnt"))
    scored = counts.join(dfreq, "tok").withColumn(
        "score_scaled", F.expr("(k * 1000000000) div df_cnt")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_scaled").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "tok", "k", "df_cnt", "score_scaled", "rnk")
    )


SQL_TFIDF_TOPK = """
WITH toks AS (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
),
counts AS (
    SELECT doc_id, tok, COUNT(*) AS k FROM toks GROUP BY 1, 2
),
dfreq AS (
    SELECT tok, COUNT(*) AS df_cnt FROM counts GROUP BY 1
),
scored AS (
    SELECT c.doc_id, c.tok, c.k, d.df_cnt,
           (c.k * 1000000000) // d.df_cnt AS score_scaled,
           ROW_NUMBER() OVER (
               PARTITION BY c.doc_id
               ORDER BY (c.k * 1000000000) // d.df_cnt DESC, c.tok ASC
           ) AS rnk
    FROM counts c JOIN dfreq d USING (tok)
)
SELECT doc_id, tok, k, df_cnt, score_scaled, rnk
FROM scored WHERE rnk <= 5
"""


def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model counts (the n-gram LM / collocation
    table behind quality filters and decontamination): adjacent token
    pairs via the posexplode + lead-window shape (bigram_rows — stays
    in whole-stage codegen), one shuffle on the bigram.
    The ≥3 count floor is the standard LM vocabulary cut and keeps the
    emitted table bounded at scale."""
    from journal_batch_processer_spark.operators.text_analysis import (
        bigram_rows,
    )

    docs = _docs(spark, sf_dir)
    # r13: bigram emission via the lead-window shape (bigram_rows) —
    # the zip_with/slice lambda build ran interpreted, 9× slower
    return (
        bigram_rows(docs, "doc_id", "text")
        .select("doc", F.col("bg").alias("bigram"))
        .groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc").alias("n_docs"),
        )
        .filter(F.col("n_total") >= 3)
    )


SQL_TEXT_BIGRAMS = """
WITH tk AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
pr AS (
    SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 1)) AS i FROM tk
)
SELECT t[i] || ' ' || t[i + 1] AS bigram,
       COUNT(*) AS n_total,
       COUNT(DISTINCT doc_id) AS n_docs
FROM pr
GROUP BY 1
HAVING COUNT(*) >= 3
"""


# ---------------------------------------------------------------------------
# embedding quantization
# ---------------------------------------------------------------------------


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the ANN-serving
    compression step — 4× smaller vectors, SIMD-int dot products):
    per-vector scale = max|x|, q_i = floor(x_i/scale*127 + 0.5).
    Expression-only `transform`/`array_max` — zero shuffle, pure map.

    Bit-exactness: inputs are float32; both engines widen to float64
    (exact), and the divide/multiply/floor chain is the same IEEE
    sequence, so even the rounding boundary cases hash-match. The
    floor(x+0.5) form (round-half-up) is used instead of ROUND
    because engines disagree on half-even vs half-away ties.

    Output shape (VERDICT r05 #2): the quantized vector is emitted as
    a comma-joined STRING (``q_str``), not a raw ``array<bigint>`` —
    the driver's pandas canonicalizer cannot sort/hash list cells
    (r05 driver err). Same information, driver-comparable shape."""
    embs = _embs(spark, sf_dir)
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(vd, lambda x: F.abs(x)))
    q = F.transform(
        F.col("vd"), lambda x: F.floor(x / F.col("maxabs") * 127 + F.lit(0.5))
    )
    return (
        embs.select("vec_id", "label", vd.alias("vd"), maxabs.alias("maxabs"))
        .select(
            "vec_id",
            "label",
            "maxabs",
            q.alias("q"),
        )
        .select(
            "vec_id",
            "label",
            "maxabs",
            F.array_join(F.col("q"), ",").alias("q_str"),
            F.aggregate(
                F.col("q"), F.lit(0).cast("bigint"), lambda a, x: a + x
            ).alias("q_sum"),
        )
    )


def q_embed_gramian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed gramian Q^T Q of the int8-quantized embedding matrix
    (upper triangle, 0-based (i, j, gram)): the "big n, small d"
    reduction behind PCA/whitening and OPQ rotation training. Each
    partition reduces its rows to one d×d numpy partial; the shuffle
    moves partitions × d(d+1)/2 cells, never a data row
    (operators/linalg.py — the RowMatrix.computeGramian shape on the
    DataFrame/Arrow stack). Integer arithmetic end-to-end, so the sum
    is partition-order-independent and bit-matches the oracle."""
    from journal_batch_processer_spark.operators.linalg import (
        quantized_gramian,
    )

    return quantized_gramian(_embs(spark, sf_dir), "embedding")


SQL_EMBED_GRAMIAN = """
WITH qv AS (
    SELECT list_transform(v, x -> CAST(FLOOR(x / maxabs * 127 + 5e-1)
                                       AS BIGINT)) AS q
    FROM (
        SELECT v, list_max(list_transform(v, x -> ABS(x))) AS maxabs
        FROM (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings)
    )
),
ij AS (
    SELECT i.range AS i, j.range AS j
    FROM range(1, 65) i, range(1, 65) j
    WHERE i.range <= j.range
)
SELECT CAST(ij.i - 1 AS INT) AS i, CAST(ij.j - 1 AS INT) AS j,
       CAST(SUM(qv.q[ij.i] * qv.q[ij.j]) AS BIGINT) AS gram
FROM qv, ij
GROUP BY 1, 2
"""


PCA_ITERS = 12
PCA_SCALE = 1 << 20  # target magnitude of the iterate after rescale


def _tdiv(a: int, b: int) -> int:
    """Integer division TRUNCATING toward zero — Spark ``div`` and
    DuckDB ``//`` semantics (-7 div 2 = -3); Python's ``//`` floors,
    so it cannot be used directly on negative operands."""
    q = abs(a) // b
    return -q if a < 0 else q


def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector of the int8-quantized gramian by POWER
    ITERATION — the top principal direction of the embedding space
    (the whitening/OPQ primitive embed_gramian feeds).

    Scale shape (r08 rework): ONE distributed pass builds the gramian
    (partition-partial int64 Q^T Q, operators/linalg.py — no data row
    ever shuffles); the d×d result is MODEL-sized (independent of
    corpus size), so the 12 power-iteration rounds run on the driver
    over the collected cells — exactly MLlib's
    ``RowMatrix.computePrincipalComponents`` design (computeGramian →
    driver-side eigensolve). The previous revision iterated as 12
    join+aggregate rounds over the (i, j, gram) relation; that shape
    is right for HUGE SPARSE matrices (graph_pagerank keeps it) but
    for a dense model-sized gramian it paid ~36 tiny-stage latencies
    to avoid a d²-cell collect — measured 5.1 s vs ~1 s for the same
    arithmetic (bench_runs, sf0.1).

    Everything is INTEGER and bit-identical to the unrolled-SQL
    oracle: w = G·v in exact int64, then the rescale
    ``w div max(1, max|w| div 2^20)`` with truncating division
    (:func:`_tdiv`); integer sums are order-independent, so the
    driver-side loop reproduces the in-plan version exactly."""
    from journal_batch_processer_spark.operators.linalg import (
        quantized_gramian,
    )

    cells = quantized_gramian(_embs(spark, sf_dir), "embedding").collect()
    rows: dict[int, list[tuple[int, int]]] = {}
    for r in cells:
        rows.setdefault(r.i, []).append((r.j, r.gram))
        if r.i != r.j:
            rows.setdefault(r.j, []).append((r.i, r.gram))
    dims = sorted(rows)
    v = {i: PCA_SCALE for i in dims}
    for _ in range(PCA_ITERS):
        w = {i: sum(g * v[j] for j, g in rows[i]) for i in dims}
        mx = max(abs(x) for x in w.values())
        s = max(1, mx // PCA_SCALE)  # mx >= 0: floor == truncate
        v = {i: _tdiv(w[i], s) for i in dims}
    return spark.createDataFrame(
        [(i, v[i]) for i in dims], "dim int, v long"
    )


def _pca_power_oracle_sql() -> str:
    # MATERIALIZED CTEs: vN references wN twice and gfull recurs per
    # round — default inlining would expand the parquet scan 2^R times
    # (observed as "Too many open files" at R=12)
    parts = [
        "WITH gram AS MATERIALIZED (",
        SQL_EMBED_GRAMIAN.strip(),
        "),",
        "gfull AS MATERIALIZED (",
        "  SELECT i, j, gram FROM gram",
        "  UNION ALL",
        "  SELECT j AS i, i AS j, gram FROM gram WHERE i <> j",
        "),",
        f"v0 AS (SELECT DISTINCT i AS vi, CAST({PCA_SCALE} AS BIGINT)"
        f" AS val FROM gfull),",
    ]
    for r in range(1, PCA_ITERS + 1):
        parts += [
            f"w{r} AS MATERIALIZED (",
            f"  SELECT g.i, CAST(SUM(g.gram * v.val) AS BIGINT) AS w",
            f"  FROM gfull g JOIN v{r - 1} v ON g.j = v.vi GROUP BY g.i",
            f"),",
            f"m{r} AS (SELECT MAX(ABS(w)) AS mx FROM w{r}),",
            f"v{r} AS (",
            f"  SELECT w{r}.i AS vi,",
            f"         CAST(w // GREATEST(1, mx // {PCA_SCALE}) AS BIGINT)"
            f" AS val",
            f"  FROM w{r}, m{r}",
            f")" + ("," if r < PCA_ITERS else ""),
        ]
    parts.append(
        f"SELECT vi AS dim, val AS v FROM v{PCA_ITERS}"
    )
    return "\n".join(parts)


SQL_EMBED_PCA_POWER = _pca_power_oracle_sql()


SQL_EMBED_QUANTIZE = """
WITH vd AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
sc AS (
    SELECT vec_id, label, v,
           list_max(list_transform(v, x -> ABS(x))) AS maxabs
    FROM vd
)
SELECT vec_id, label, maxabs,
       array_to_string(list_transform(v, x -> CAST(FLOOR(x / maxabs * 127 + 5e-1) AS BIGINT)), ',') AS q_str,
       list_reduce(list_transform(v, x -> CAST(FLOOR(x / maxabs * 127 + 5e-1) AS BIGINT)),
                   (a, b) -> a + b) AS q_sum
FROM sc
"""


# ---------------------------------------------------------------------------
# iterative PageRank (integer mass)
# ---------------------------------------------------------------------------

PR_ITERS = 5
PR_TOTAL = 1_000_000_000_000  # initial integer mass per node


def _pagerank_edges(nodes: DataFrame, n: int) -> DataFrame:
    """Deterministic 3-regular synthetic link graph over doc_ids:
    node → (3i+1)%N, (7i+11)%N, (i+1)%N."""
    e = None
    for a, c in ((3, 1), (7, 11), (1, 1)):
        part = nodes.select(
            F.col("node").alias("src"),
            ((F.col("node") * a + c) % F.lit(n)).alias("dst"),
        )
        e = part if e is None else e.unionAll(part)
    return e


LPA_ITERS = 3
LPA_BLOCK = 50


def _blocked_links(
    nodes: DataFrame,
    n: int,
    gens: tuple[tuple[int, int, int], ...],
    symmetric: bool = False,
) -> DataFrame:
    """Directed edges of the deterministic blocked graph, emitted in
    ONE pass over ``nodes`` via explode over a per-generator struct
    array. r13 (§2.2/§2.4): the previous one-union-branch-per-
    generator build multiplied the MAP side of the downstream
    ``distinct`` by len(gens) (×2 after symmetrize) — 512 near-empty
    tasks for the kcore graph at 32 shuffle partitions, pure
    scheduling overhead. The exploded multiset is identical row for
    row (self-loops dropped per generator, the ``lim`` gate applied
    per generator), so ``distinct()`` yields the same edge set.
    With ``symmetric=True`` the reversed direction is emitted in the
    same pass (the callers' ``union(reversed)`` fold)."""
    bs = F.least(
        F.lit(LPA_BLOCK),
        F.lit(n) - (F.col("node") - F.col("node") % LPA_BLOCK),
    )
    base = F.col("node") - F.col("node") % LPA_BLOCK
    elems = []
    for a, c, lim in gens:
        dst = base + (F.col("node") * a + c) % bs
        cond = (F.col("node") % LPA_BLOCK < lim) & (F.col("node") != dst)
        elems.append(
            F.when(
                cond, F.struct(F.col("node").alias("src"), dst.alias("dst"))
            )
        )
        if symmetric:
            elems.append(
                F.when(
                    cond,
                    F.struct(dst.alias("src"), F.col("node").alias("dst")),
                )
            )
    return (
        nodes.select(F.explode(F.array(*elems)).alias("e"))
        .filter(F.col("e").isNotNull())
        .select("e.src", "e.dst")
    )


def _blocked_links_small(
    node_ids: list, n: int, gens: tuple[tuple[int, int, int], ...]
) -> set:
    """Python replication of :func:`_blocked_links` (symmetric) +
    ``distinct`` for the small-graph driver paths — identical integer
    arithmetic (same block base / wrapped block size / lim gate /
    self-loop drop), so the returned edge SET equals the distributed
    build row for row (pinned by tests/test_round13_fixes2.py)."""
    out: set = set()
    for v in node_ids:
        base = v - v % LPA_BLOCK
        bs = min(LPA_BLOCK, n - base)
        pos = v % LPA_BLOCK
        for a, c, lim in gens:
            if pos < lim:
                dst = base + (v * a + c) % bs
                if dst != v:
                    out.add((v, dst))
                    out.add((dst, v))
    return out


def _small_graph_rounds(
    docs: DataFrame, n: int, gens: tuple, rounds, iters: int, col: str
) -> DataFrame | None:
    """(node_id, ``col``) from the integer ``rounds`` run on the driver
    (the _union_find_labels precedent, r13 §2.4), or None above the
    gate — the caller then runs its distributed rounds, ~18 tiny
    stages of pure scheduling latency on a few-MB graph. Every node
    emits at most 2·|gens| edges, so n alone bounds the edge count
    ANALYTICALLY: no distributed build is needed to decide, and below
    the gate the identical edge set is generated in Python
    (_blocked_links_small)."""
    if not small_input(2 * len(gens) * n, SMALL_GRAPH_EDGES):
        return None
    import pandas as pd

    node_ids = [r[0] for r in docs.select("doc_id").collect()]
    val = rounds(_blocked_links_small(node_ids, n, gens), node_ids, iters)
    return docs.sparkSession.createDataFrame(
        pd.DataFrame({"node_id": node_ids, col: [val[v] for v in node_ids]}),
        f"node_id long, {col} long",
    )


def q_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation (community detection), 3 synchronous rounds
    over the deterministic blocked graph: label_{t+1}(v) = the most
    frequent label among v's undirected neighbors, ties to the
    SMALLEST label (the deterministic LPA variant — raw LPA's random
    tie-breaks can't be oracle-checked), isolated nodes keep their
    own label. Communities feed corpus-level dedup policies (drop all
    but one representative per mirror-site community) the way
    dedup_cluster's connected components do, but LPA finds DENSE
    groups, not merely connected ones, and needs no convergence test.

    Everything is integer (labels are node ids, votes are counts), so
    per-group aggregation is order-independent and the unrolled
    3-round DuckDB oracle is hash-exact. Scale shape mirrors
    graph_pagerank: per round one shuffle join (labels × edges on the
    neighbor key) + a (v, label) count + an argmax-by-struct-min —
    co-partitioned round to round; static relations localCheckpoint-ed
    so the unrolled plan doesn't re-expand the scan every round."""
    docs = _docs(spark, sf_dir)
    n = docs.count()  # scalar action: graph size, needed as a literal
    # Deterministic BLOCKED link graph: each node links to three
    # targets inside its own LPA_BLOCK-node block (a disjoint union of
    # small expanders, one community per block; the last partial block
    # wraps within its own size so no edge points past N-1).
    # Undirected neighborhood: symmetrize + dedup parallel edges —
    # both directions emitted in one explode pass (see _blocked_links).
    gens = tuple((a, c, LPA_BLOCK) for a, c in ((3, 1), (7, 11), (1, 1)))
    # small graphs: driver-side integer vote counting
    small = _small_graph_rounds(
        docs, n, gens, lpa_labels_small, LPA_ITERS, "community"
    )
    if small is not None:
        return small
    nodes = docs.select(F.col("doc_id").alias("node")).localCheckpoint()
    edges = (
        _blocked_links(nodes, n, gens, symmetric=True)
        .distinct()
        .localCheckpoint()
    )
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
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "lbl")).alias("b"))
            .select("src", F.col("b.lbl").alias("new_lbl"))
        )
        labels = (
            labels.join(best, labels.node == best.src, "left")
            .select(
                "node",
                F.coalesce("new_lbl", "lbl").alias("lbl"),
            )
        )
    return labels.select(
        F.col("node").alias("node_id"), F.col("lbl").alias("community")
    )


def _labelprop_oracle_sql() -> str:
    parts = [
        "WITH nn AS (SELECT COUNT(*) AS n FROM documents),",
        "nodes AS (SELECT doc_id AS node FROM documents),",
        "directed AS (",
    ]
    links = []
    for a, c in ((3, 1), (7, 11), (1, 1)):
        links.append(
            f"  SELECT node AS src, (node - node % {LPA_BLOCK})"
            f" + (node * {a} + {c})"
            f" % LEAST({LPA_BLOCK}, nn.n - (node - node % {LPA_BLOCK}))"
            f" AS dst FROM nodes, nn"
        )
    parts.append("\n  UNION ALL\n".join(links))
    parts += [
        "),",
        "edges AS (",
        "  SELECT DISTINCT src, dst FROM (",
        "    SELECT src, dst FROM directed WHERE src <> dst",
        "    UNION ALL SELECT dst, src FROM directed WHERE src <> dst",
        "  )",
        "),",
        "l0 AS (SELECT node, node AS lbl FROM nodes),",
    ]
    for i in range(1, LPA_ITERS + 1):
        parts += [
            f"v{i} AS (",
            f"  SELECT e.src AS v, l.lbl, COUNT(*) AS c",
            f"  FROM edges e JOIN l{i - 1} l ON l.node = e.dst",
            f"  GROUP BY 1, 2",
            f"),",
            f"b{i} AS (",
            f"  SELECT v, lbl FROM (",
            f"    SELECT v, lbl, ROW_NUMBER() OVER (",
            f"      PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn FROM v{i}",
            f"  ) WHERE rn = 1",
            f"),",
            f"l{i} AS (",
            f"  SELECT p.node, COALESCE(b.lbl, p.lbl) AS lbl",
            f"  FROM l{i - 1} p LEFT JOIN b{i} b ON b.v = p.node",
            f")" + ("," if i < LPA_ITERS else ""),
        ]
    parts.append(
        f"SELECT node AS node_id, lbl AS community FROM l{LPA_ITERS}"
    )
    return "\n".join(parts)


SQL_GRAPH_LABELPROP = _labelprop_oracle_sql()


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 5 synchronous iterations over a deterministic
    3-out-regular graph on doc_ids — the canonical iterative-join-agg
    workload (web-graph page quality scores feeding corpus filters).

    All mass is INTEGER (start 1e12 per node; contribution = rank div
    outdeg; damping = (85·in) div 100; teleport = 15e12 div (100·N)) so
    per-group sums are order-independent and the unrolled 5-iteration
    DuckDB oracle is hash-exact — float PageRank could never be, since
    shuffle summation order varies run to run.

    Scale shape: each iteration is one shuffle join (ranks × edges on
    src — at real scale both sides pre-partitioned on the key, so the
    join is co-located after iteration 1) plus one groupBy(dst). N is
    resolved by ONE bounded scalar action (the graph.py:64 precedent —
    a 1-row aggregate, never data) and the static node/edge relations
    are localCheckpoint-ed so the unrolled iterations reference a
    truncated lineage instead of re-expanding the scan 5× (without
    this the static plan held 84 scans and 42 broadcast-nested-loop
    count joins — pinned by tests/test_scale_plans.py)."""
    docs = _docs(spark, sf_dir)
    n = docs.count()  # scalar action: graph size, needed as a literal
    nodes = docs.select(F.col("doc_id").alias("node")).localCheckpoint()
    edges = _pagerank_edges(nodes, n).localCheckpoint()
    ranks = nodes.select("node", F.lit(PR_TOTAL).alias("pr"))
    teleport = (PR_TOTAL * 15) // (100 * n)
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(
                ranks.select(F.col("node").alias("src"), "pr"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.expr("pr div 3")).alias("insum"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr("(85 * coalesce(insum, 0)) div 100")
                ).alias("pr"),
            )
        )
    return ranks.select(F.col("node").alias("node_id"), F.col("pr").alias("pr_mass"))


def _pagerank_oracle_sql() -> str:
    parts = [
        "WITH nn AS (SELECT COUNT(*) AS n FROM documents),",
        "nodes AS (SELECT doc_id AS node FROM documents),",
        "edges AS (",
        "  SELECT node AS src, (node * 3 + 1) % nn.n AS dst FROM nodes, nn",
        "  UNION ALL SELECT node, (node * 7 + 11) % nn.n FROM nodes, nn",
        "  UNION ALL SELECT node, (node + 1) % nn.n FROM nodes, nn",
        "),",
        f"r0 AS (SELECT node, CAST({PR_TOTAL} AS BIGINT) AS pr FROM nodes),",
    ]
    for i in range(1, PR_ITERS + 1):
        parts += [
            f"s{i} AS (",
            f"  SELECT e.dst AS node, SUM(r.pr // 3) AS insum",
            f"  FROM edges e JOIN r{i - 1} r ON e.src = r.node GROUP BY 1",
            "),",
            f"r{i} AS (",
            f"  SELECT n.node,",
            f"         ({PR_TOTAL} * 15) // (100 * (SELECT n FROM nn))",
            f"           + (85 * COALESCE(s.insum, 0)) // 100 AS pr",
            f"  FROM nodes n LEFT JOIN s{i} s ON n.node = s.node",
            "),",
        ]
    parts[-1] = parts[-1].rstrip(",")  # drop trailing comma after last CTE
    # CAST: DuckDB's integer // promotes through HUGEINT in the CTE
    # chain; the driver hash is type-sensitive, so pin BIGINT
    parts.append(
        f"SELECT node AS node_id, CAST(pr AS BIGINT) AS pr_mass FROM r{PR_ITERS}"
    )
    return "\n".join(parts)


SQL_GRAPH_PAGERANK = _pagerank_oracle_sql()


KCORE_ITERS = 6
# (a, c, in-block-position limit): node links to
# block_start + (node*a + c) % block_size, but only when
# node % LPA_BLOCK < limit — the position-graded generator counts give
# each block a CORE-PERIPHERY gradient (hubs near the block start,
# degree-1 and isolated nodes at the tail), so coreness spans 0..5
# instead of the single value a regular expander collapses to
KCORE_GENS = (
    (1, 1, 40),
    (3, 1, 30),
    (7, 11, 30),
    (5, 3, 15),
    (11, 7, 15),
    (13, 5, 6),
    (17, 3, 6),
    (19, 9, 6),
)


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed CORENESS via h-index iteration (Lü, Chen, Ren,
    Zhang, Zhang, Zhou, PNAS 2016: start every node at its degree;
    repeatedly replace each node's value with the H-index of its
    neighbors' values; the sequence is non-increasing and converges to
    the node's k-core number) — the degeneracy-ordering peel without
    any sequential peel: classic Batagelj–Zaversnik coreness removes
    one minimum-degree vertex at a time (inherently serial), while the
    H-operator is a per-node local update, so each round is ONE
    shuffle join (values × edges on the neighbor key) plus a
    per-node window/aggregate — the graph_pagerank scale shape.
    Coreness drives corpus-graph curation the way pagerank does:
    near-dup graph k-cores are template/boilerplate families, cores of
    the link graph are hub communities to cap in a training mix.

    Fixed KCORE_ITERS synchronous rounds (deterministic — everything
    is integer counts, and MAX(LEAST(rank, value)) over a descending
    sort is invariant to tie order), so the unrolled DuckDB oracle is
    hash-exact. The graph is the labelprop blocked shape graded into
    CORE-PERIPHERY blocks (KCORE_GENS): hub nodes near each block
    start, degree-1 and isolated nodes at the tail, so the fixture
    corenesses span 0..5 and the peel has real work per round."""
    docs = _docs(spark, sf_dir)
    n = docs.count()  # scalar action: graph size, needed as a literal
    # small graphs: driver-side integer H-operator rounds; above the
    # gate the distributed rounds run unchanged (the 100 TB path)
    small = _small_graph_rounds(
        docs, n, KCORE_GENS, hindex_coreness_small, KCORE_ITERS, "coreness"
    )
    if small is not None:
        return small
    nodes = docs.select(F.col("doc_id").alias("node")).localCheckpoint()
    # symmetrize + dedup parallel edges — both directions emitted in
    # one explode pass over nodes (see _blocked_links)
    edges = (
        _blocked_links(nodes, n, KCORE_GENS, symmetric=True)
        .distinct()
        .localCheckpoint()
    )
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
        # H-index of the neighbor-value multiset: sort desc, rank, then
        # max(min(rank, value)) — the window and the groupBy hash on the
        # SAME key, so one exchange serves both
        h = (
            nbr.withColumn("rn", F.row_number().over(w))
            .groupBy("src")
            .agg(F.max(F.least(F.col("rn"), F.col("nc"))).alias("h"))
        )
        cur = cur.join(h, cur.node == h.src, "left").select(
            "node", F.coalesce("h", F.lit(0)).cast("long").alias("c")
        )
    return cur.select(
        F.col("node").alias("node_id"), F.col("c").alias("coreness")
    )


def _kcore_oracle_sql() -> str:
    parts = [
        "WITH nn AS (SELECT COUNT(*) AS n FROM documents),",
        "nodes AS (SELECT doc_id AS node FROM documents),",
        "directed AS (",
    ]
    links = []
    for a, c, lim in KCORE_GENS:
        links.append(
            f"  SELECT node AS src, (node - node % {LPA_BLOCK})"
            f" + (node * {a} + {c})"
            f" % LEAST({LPA_BLOCK}, nn.n - (node - node % {LPA_BLOCK}))"
            f" AS dst FROM nodes, nn WHERE node % {LPA_BLOCK} < {lim}"
        )
    parts.append("\n  UNION ALL\n".join(links))
    # MATERIALIZED: each d{i} is referenced twice by level i+1 (the
    # neighbor join and the carry-forward), so the plain-CTE plan
    # re-expands 2^KCORE_ITERS times — materializing pins it linear
    parts += [
        "),",
        "edges AS MATERIALIZED (",
        "  SELECT DISTINCT src, dst FROM (",
        "    SELECT src, dst FROM directed WHERE src <> dst",
        "    UNION ALL SELECT dst, src FROM directed WHERE src <> dst",
        "  )",
        "),",
        "d0 AS MATERIALIZED (",
        "  SELECT n.node, CAST(COALESCE(d.c, 0) AS BIGINT) AS c",
        "  FROM nodes n LEFT JOIN (",
        "    SELECT src, COUNT(*) AS c FROM edges GROUP BY 1",
        "  ) d ON d.src = n.node",
        "),",
    ]
    for i in range(1, KCORE_ITERS + 1):
        parts += [
            f"v{i} AS (",
            f"  SELECT e.src, d.c AS nc, ROW_NUMBER() OVER (",
            f"    PARTITION BY e.src ORDER BY d.c DESC) AS rn",
            f"  FROM edges e JOIN d{i - 1} d ON d.node = e.dst",
            "),",
            f"h{i} AS (SELECT src, MAX(LEAST(rn, nc)) AS h",
            f"         FROM v{i} GROUP BY 1),",
            f"d{i} AS MATERIALIZED (",
            f"  SELECT p.node, CAST(COALESCE(h.h, 0) AS BIGINT) AS c",
            f"  FROM d{i - 1} p LEFT JOIN h{i} h ON h.src = p.node",
            ")" + ("," if i < KCORE_ITERS else ""),
        ]
    parts.append(
        f"SELECT node AS node_id, c AS coreness FROM d{KCORE_ITERS}"
    )
    return "\n".join(parts)


SQL_GRAPH_KCORE = _kcore_oracle_sql()


# ---------------------------------------------------------------------------
# event funnel
# ---------------------------------------------------------------------------


def q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (product-analytics staple): per user, the
    earliest view → first click strictly after it → first purchase
    strictly after that. Three filtered min-aggregations chained by
    joins — each stage shuffles once on user_id and, at scale, reuses
    the same hash partitioning (no re-shuffle after stage 1; AQE
    broadcasts the shrinking stage frontier). Timestamps are emitted
    as epoch microseconds (integer) so the oracle compare is exact
    regardless of either engine's timestamp rendering."""
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.unix_micros("t1").alias("t1_us"),
            F.unix_micros("t2").alias("t2_us"),
            F.unix_micros("t3").alias("t3_us"),
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).alias("stage"),
        )
    )


SQL_FUNNEL_EVENTS = """
WITH v AS (
    SELECT user_id, MIN(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY 1
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t1
    GROUP BY 1
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t2
    GROUP BY 1
)
SELECT v.user_id,
       epoch_us(v.t1) AS t1_us,
       epoch_us(c.t2) AS t2_us,
       epoch_us(p.t3) AS t3_us,
       CAST(1 + (c.t2 IS NOT NULL)::INT + (p.t3 IS NOT NULL)::INT
            AS INTEGER) AS stage
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
"""


# ---------------------------------------------------------------------------
# sub-document chunk dedup (boilerplate detection)
# ---------------------------------------------------------------------------

DEDUP_CHUNK_TOKENS = 20


def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact chunk dedup (RefinedWeb/CCNet line-dedup
    shape, over fixed 20-token chunks since this corpus has no
    newlines): chunk every document, md5 each chunk, report chunks
    shared by >1 document. This catches boilerplate and partial
    duplication that document-level dedup misses. One shuffle on the
    16-byte hash; at 100 TB the chunk table is written bucketed by
    hash so the nightly pass joins co-located."""
    docs = _docs(spark, sf_dir)
    t = F.split(F.col("text"), " ")
    base = docs.select("doc_id", t.alias("t"), F.size(t).alias("n"))
    chunks = base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(DEDUP_CHUNK_TOKENS))
        ).alias("start"),
        "t",
        "n",
    ).select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("t"),
                    F.col("start") + 1,
                    F.least(
                        F.lit(DEDUP_CHUNK_TOKENS), F.col("n") - F.col("start")
                    ),
                ),
            )
        ).alias("chunk_hash"),
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


SQL_DEDUP_CHUNKS = f"""
WITH tk AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
st AS (
    SELECT doc_id, t, len(t) AS n,
           UNNEST(generate_series(0, len(t) - 1, {DEDUP_CHUNK_TOKENS})) AS start
    FROM tk
),
ch AS (
    SELECT doc_id,
           md5(array_to_string(
               list_slice(t, start + 1,
                          LEAST(start + {DEDUP_CHUNK_TOKENS}, n)), ' ')) AS chunk_hash
    FROM st
)
SELECT chunk_hash,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences,
       MIN(doc_id) AS first_doc
FROM ch
GROUP BY 1
HAVING COUNT(DISTINCT doc_id) > 1
"""


# ---------------------------------------------------------------------------
# BPE tokenizer training
# ---------------------------------------------------------------------------

BPE_N_MERGES = 8


def q_tokenizer_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training over the corpus vocabulary: 8 rounds of
    count-the-pairs → merge-the-winner, the actual tokenizer-training
    loop. The iterated state is the word-frequency table (corpus
    scanned once, vocab-sized state per round — the shape that holds
    at 100 TB); the DuckDB oracle unrolls all 8 rounds with correlated
    scalar subqueries, so every learned merge and its frequency is
    value-checked."""
    from journal_batch_processer_spark.operators.text_analysis import (
        bpe_train,
    )

    merges = bpe_train(_docs(spark, sf_dir), "text", BPE_N_MERGES)
    return spark.createDataFrame(
        merges, "round int, lsym string, rsym string, merged string, freq bigint"
    )


def _bpe_cte_prefix(n: int = BPE_N_MERGES) -> list[str]:
    """The shared unrolled-training CTE chain (w1..b{n}) used by both
    the train and encode oracles."""
    s31 = "chr(31)"
    # every w{i} is referenced twice (pair counts + next round) — an
    # inlined CTE chain doubles per round (2^n parquet scans, "too
    # many open files" at n=8); MATERIALIZED pins each round to one
    # evaluation, mirroring the Spark side's localCheckpoint
    parts = [
        "WITH w1 AS MATERIALIZED (",
        f"  SELECT freq, {s31} || array_to_string(chars, {s31}) || {s31} AS s",
        "  FROM (",
        "    SELECT w, COUNT(*) AS freq,",
        "           list_transform(range(1, len(w) + 1), i -> w[i]) AS chars",
        "    FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)",
        "    WHERE w <> '' GROUP BY w",
        "  )",
        "),",
    ]
    for i in range(1, n + 1):
        parts += [
            f"p{i} AS (",
            "  SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq) AS cnt",
            "  FROM (",
            f"    SELECT freq, string_split(s, {s31}) AS syms,",
            f"           UNNEST(generate_series(2, len(string_split(s, {s31})) - 2)) AS i",
            f"    FROM w{i}",
            "  ) GROUP BY 1, 2",
            "),",
            f"b{i} AS MATERIALIZED (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),",
            f"w{i + 1} AS MATERIALIZED (",
            "  SELECT freq,",
            f"         replace(s, {s31} || (SELECT l FROM b{i}) || {s31} || (SELECT r FROM b{i}) || {s31},",
            f"                    {s31} || (SELECT l FROM b{i}) || (SELECT r FROM b{i}) || {s31}) AS s",
            f"  FROM w{i}",
            "),",
        ]
    return parts


def _bpe_train_oracle_sql(n: int = BPE_N_MERGES) -> str:
    parts = _bpe_cte_prefix(n)
    parts[-1] = parts[-1].rstrip(",")
    union = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS round, l AS lsym, r AS rsym, "
        f"l || r AS merged, CAST(cnt AS BIGINT) AS freq FROM b{i}"
        for i in range(1, n + 1)
    )
    parts.append(union)
    return "\n".join(parts)


SQL_TOKENIZER_TRAIN = _bpe_train_oracle_sql()


def q_tokenizer_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving half of BPE: apply the learned merge table (trained
    by the same deterministic loop) to every document and report
    per-doc BPE token counts. Encoding is a chain of 8 `replace`
    expressions over the per-word symbol string — pure codegen, no
    Python, the only shuffle the per-doc sum. At 100 TB the merge
    table ships as plan literals (here) or a broadcast map; the
    corpus pass stays narrow."""
    from journal_batch_processer_spark.operators.text_analysis import (
        BPE_SEP,
        bpe_train,
    )

    sep = BPE_SEP
    merges = bpe_train(_docs(spark, sf_dir), "text", BPE_N_MERGES)
    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    s = F.concat(
        F.lit(sep), F.array_join(F.split("w", ""), sep), F.lit(sep)
    )
    for _, l, r, _m, _f in merges:
        s = F.replace(s, F.lit(sep + l + sep + r + sep), F.lit(sep + l + r + sep))
    return (
        words.select("doc_id", (F.size(F.split(s, sep)) - 2).alias("nt"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("nt").alias("n_bpe_tokens"),
        )
    )


def _bpe_encode_oracle_sql(n: int = BPE_N_MERGES) -> str:
    s31 = "chr(31)"
    parts = _bpe_cte_prefix(n)
    parts += [
        "enc0 AS (",
        f"  SELECT doc_id, {s31} || array_to_string(",
        "             list_transform(range(1, len(w) + 1), i -> w[i]),",
        f"             {s31}) || {s31} AS s",
        "  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w",
        "        FROM documents) WHERE w <> ''",
        "),",
    ]
    for i in range(1, n + 1):
        parts += [
            f"enc{i} AS (",
            "  SELECT doc_id,",
            f"         replace(s, {s31} || (SELECT l FROM b{i}) || {s31} || (SELECT r FROM b{i}) || {s31},",
            f"                    {s31} || (SELECT l FROM b{i}) || (SELECT r FROM b{i}) || {s31}) AS s",
            f"  FROM enc{i - 1}",
            "),",
        ]
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT doc_id, COUNT(*) AS n_words,\n"
        f"       CAST(SUM(len(string_split(s, {s31})) - 2) AS BIGINT)"
        f" AS n_bpe_tokens\nFROM enc{n} GROUP BY doc_id"
    )
    return "\n".join(parts)


SQL_TOKENIZER_ENCODE = _bpe_encode_oracle_sql()


CURRICULUM_STAGES = 4


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum ordering (the data-ordering step of a
    staged training run): documents are split into 4 length stages
    (short → long, the classic length curriculum) by EXPLICIT quartile
    rank — rank·4 div n, not NTILE, because NTILE's remainder
    distribution is engine-defined — and SHUFFLED WITHIN each stage by
    md5 so every epoch replays the identical order (position is
    resume/restart-stable, which `orderBy(rand())` can never be).
    Output: (doc_id, stage, position) — the manifest a dataloader
    consumes.

    Scale shape: two rank windows; the stage window partitions by
    stage (4 partitions here — at real scale the in-stage position is
    computed per (stage, shard) exactly like sample_reservoir's
    two-level rank, since a global per-stage ordering would serialize
    a stage through one task)."""
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    w_len = Window.orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    n = docs.count()
    # integer div, not float `/`: float-quotient truncation at exact
    # stage boundaries would hinge on both engines' rounding
    staged = docs.withColumn("__rn", F.row_number().over(w_len)).select(
        "doc_id",
        F.expr(
            f"CAST(((__rn - 1) * {CURRICULUM_STAGES}) div {n} AS INT)"
        ).alias("stage"),
    )
    h = F.md5(F.concat(F.lit("cur:"), F.col("doc_id").cast("string")))
    w_stage = Window.partitionBy("stage").orderBy(h.asc(), F.col("doc_id").asc())
    return staged.select(
        "doc_id", "stage", F.row_number().over(w_stage).alias("position")
    )


SQL_CURRICULUM_ORDER = f"""
WITH ranked AS (
    SELECT doc_id,
           CAST(((ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1)
                 * {CURRICULUM_STAGES})
                // (SELECT COUNT(*) FROM documents) AS INTEGER) AS stage
    FROM documents
)
SELECT doc_id, stage,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY stage
           ORDER BY md5('cur:' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS INTEGER) AS position
FROM ranked
"""


QUERIES = {
    "chunk_sliding": (q_chunk_sliding, SQL_CHUNK_SLIDING),
    "curriculum_order": (q_curriculum_order, SQL_CURRICULUM_ORDER),
    "tokenizer_train": (q_tokenizer_train, SQL_TOKENIZER_TRAIN),
    "tokenizer_encode": (q_tokenizer_encode, SQL_TOKENIZER_ENCODE),
    "seq_pack": (q_seq_pack, SQL_SEQ_PACK),
    "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
    "text_bigrams": (q_text_bigrams, SQL_TEXT_BIGRAMS),
    "embed_quantize": (q_embed_quantize, SQL_EMBED_QUANTIZE),
    "embed_gramian": (q_embed_gramian, SQL_EMBED_GRAMIAN),
    "embed_pca_power": (q_embed_pca_power, SQL_EMBED_PCA_POWER),
    "graph_pagerank": (q_graph_pagerank, SQL_GRAPH_PAGERANK),
    "graph_labelprop": (q_graph_labelprop, SQL_GRAPH_LABELPROP),
    "graph_kcore": (q_graph_kcore, SQL_GRAPH_KCORE),
    "funnel_events": (q_funnel_events, SQL_FUNNEL_EVENTS),
    "dedup_chunks": (q_dedup_chunks, SQL_DEDUP_CHUNKS),
}
