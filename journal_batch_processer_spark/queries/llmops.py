"""Training-data-pipeline operators over documents/embeddings/events:
deduplication (exact, n-gram Jaccard, MinHash LSH, SimHash, embedding
cosine), similarity search (brute force + LSH), text analysis, and
multimodal column plumbing.

Oracle notes: Jaccard uses integer set arithmetic (bit-exact across
engines); cosine values are rounded to 6 dp on both sides to absorb
any float-summation associativity differences; MinHash/SimHash/LSH are
hash-seeded approximations → rows-only checks with recall asserted in
pytest against the exact operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from journal_batch_processer_spark.operators.dedup import (
    dedup_exact,
    minhash_candidates,
    minhash_perm,
    near_dup_pairs,
    ngram_jaccard_pairs_auto,
    ngram_jaccard_pairs_prefix,
    simhash_fingerprint,
)
from journal_batch_processer_spark.cache import pin
from journal_batch_processer_spark.operators.multimodal import attach_binary
from journal_batch_processer_spark.operators.similarity import (
    cosine_topk,
    dot_expr,
    ivf_topk,
    lsh_bucket_topk,
)
from journal_batch_processer_spark.operators.sampling import (
    deterministic_sample,
    hash_split,
)
from journal_batch_processer_spark.operators.text_analysis import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    lang_id,
    pii_scrub,
    quality_gate,
    quality_score,
    repetition_stats,
    token_stats,
)
from journal_batch_processer_spark.metadata import (
    fixture_dir,
    fixture_root,
    parquet_row_count,
)
from journal_batch_processer_spark.session import load_events, oracle_sf_dir

EMB_DIM = 64

_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def _parse_byte_size(s: str, default: int = _DEFAULT_MAX_PARTITION_BYTES) -> int:
    """Parse a Spark byte-size conf value: bare bytes (``134217728``)
    or unit-suffixed (``128m``, ``128MB``, ``1g``, ``512k``, with or
    without a trailing ``b``). Driver-supplied sessions set the
    human-readable form, which ``int(...)`` rejected. Unparseable →
    ``default`` (never crash a split estimate over a conf string)."""
    units = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    t = str(s).strip().lower()
    if t.endswith("b"):
        t = t[:-1]
    suffix = t[-1] if t and t[-1] in units else ""
    num = t[: -1] if suffix else t
    try:
        return int(num) * units[suffix]
    except (ValueError, KeyError):
        return default


def _estimated_splits(spark: SparkSession, df: DataFrame) -> int:
    """Estimate scan partitions from the file listing — no RDD
    conversion (df.rdd.getNumPartitions() builds a whole RDD plan per
    query just to count splits). Byte-range splits can't parallelize a
    single-row-group file, so file count is the honest lower bound and
    sum(ceil(size/maxPartitionBytes)) the upper; use the conservative
    lower. Non-local schemes (no cheap stat) report "well-split"."""
    import os as _os

    files = df.inputFiles()
    if not files:
        return 1 << 30  # non-file source (memory/stream): leave alone
    max_bytes = _parse_byte_size(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    splits = 0
    for f in files:
        if f.startswith("file:"):
            path = "/" + f[len("file:"):].lstrip("/")
            try:
                size = _os.path.getsize(path)
            except OSError:
                return 1 << 30
            splits += max(1, -(-size // max_bytes))
        else:
            return 1 << 30  # remote store: assume production layout
    return splits


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Ingest-layout correction: a single-row-group parquet file scans
    as ONE partition, serializing every narrow op downstream (the
    shingle/fold stages here are CPU-bound). Repartition only when the
    scan is under-split — at real scale the corpus already has >>
    defaultParallelism input splits and this is a no-op."""
    target = spark.sparkContext.defaultParallelism
    if _estimated_splits(spark, df) < max(2, target // 2):
        return df.repartition(target)
    return df


def _docs(spark, sf_dir):
    return _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _docs_unspread(spark, sf_dir):
    """Documents scan WITHOUT the _spread round-robin: for consumers
    whose first operation is shingle_table's hash-by-doc repartition,
    the round-robin is a second back-to-back full-text exchange (plus
    its sort-before-repartition) that the hash exchange makes redundant
    — the Filter between them blocks CollapseRepartition, so Catalyst
    cannot drop it. Interleaved A/B (plans/r14/ab_docs_spread.txt):
    raw docs win 4-6/7 rounds on every doc-keyed shingle consumer
    (dedup_ngram med 3.24 vs 3.95 s). At 100 TB _spread's low-split
    gate never fires, so the two readers are identical there; keep
    _docs for consumers whose first exchange is NOT doc-keyed (the
    prefix generators, narrow regex stages)."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark, sf_dir):
    return _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    return dedup_exact(events, ["user_id", "event_type"], "event_id")


SQL_DEDUP_EXACT = """
SELECT user_id, event_type, MIN(event_id) AS first_event_id, COUNT(*) AS n_dupes
FROM events GROUP BY user_id, event_type
"""


def q_dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("h", F.md5("text"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("first_doc_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


SQL_DEDUP_EXACT_HASH = """
SELECT md5(text) AS h, MIN(doc_id) AS first_doc_id, COUNT(*) AS n_dupes
FROM documents GROUP BY 1
"""


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs with the stop-shingle cap (df ≤ 20): the
    skew guard that keeps the candidate join near-linear as the corpus
    grows (no-op at sf0.01 where max df is 7 — oracle-identical)."""
    docs = _docs_unspread(spark, sf_dir)
    out = ngram_jaccard_pairs_auto(
        docs, "doc_id", "text", n=3, threshold=0.05, max_shingle_df=20
    )
    return out.select(
        "doc_a", "doc_b", "inter", "sz_a", "sz_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


SQL_DEDUP_NGRAM = """
WITH toks AS (
    SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS shingles
    FROM toks
),
flat0 AS (
    SELECT doc_id AS doc, UNNEST(shingles) AS shingle FROM sh
),
flat AS (  -- stop-shingle cap df <= 20, mirroring max_shingle_df
    SELECT doc, shingle FROM flat0
    WHERE shingle IN (SELECT shingle FROM flat0 GROUP BY shingle
                      HAVING COUNT(*) <= 20)
),
sizes AS (SELECT doc, COUNT(*) AS sz FROM flat GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
    FROM flat a JOIN flat b USING (shingle)
    WHERE a.doc < b.doc
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
       ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE inter / (sa.sz + sb.sz - inter) >= 0.05
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment pairs at t=0.5 (doc-in-doc / quote-inclusion
    dedup — the asymmetric case Jaccard misses): C(a→b) = inter/|S(a)|,
    both directions emitted, stop-shingle df ≤ 20 guard (r06)."""
    from journal_batch_processer_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = _docs_unspread(spark, sf_dir)
    out = ngram_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_shingle_df=20
    )
    return out.select(
        "doc_a", "doc_b", "inter", "sz_a", "sz_b",
        F.round("containment", 6).alias("containment"),
    )


SQL_DEDUP_CONTAINMENT = """
WITH toks AS (
    SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS shingles
    FROM toks
),
flat0 AS (
    SELECT doc_id AS doc, UNNEST(shingles) AS shingle FROM sh
),
flat AS (  -- stop-shingle cap df <= 20, mirroring max_shingle_df
    SELECT doc, shingle FROM flat0
    WHERE shingle IN (SELECT shingle FROM flat0 GROUP BY shingle
                      HAVING COUNT(*) <= 20)
),
sizes AS (SELECT doc, COUNT(*) AS sz FROM flat GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
    FROM flat a JOIN flat b USING (shingle)
    WHERE a.doc <> b.doc
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
       ROUND(inter / sa.sz, 6) AS containment
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE inter / sa.sz >= 0.5
"""


def q_dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment via the ASYMMETRIC prefix filter (prefix on
    the contained side only, full index on the container — the r06
    refinement): identical output to dedup_containment at the same
    arguments (same oracle; equality also asserted in tests), but the
    candidate join probes only each doc's rarest-shingle prefix, so the
    probe side shrinks by ~(1-t) and stop-shingles drop out of it —
    the scale path when the df cap is too blunt."""
    from journal_batch_processer_spark.operators.dedup import (
        ngram_containment_pairs_prefix,
    )

    docs = _docs(spark, sf_dir)
    out = ngram_containment_pairs_prefix(
        docs, "doc_id", "text", n=3, threshold=0.5, max_shingle_df=20
    )
    return out.select(
        "doc_a", "doc_b", "inter", "sz_a", "sz_b",
        F.round("containment", 6).alias("containment"),
    )


def q_dedup_ngram_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard at t=0.5: candidate
    generation joins only each doc's rarest-shingle prefix, with the
    PPJoin length + positional filters pruning candidates before the
    verify step (per-doc array intersection, AQE-broadcastable).
    Output is exactly the plain self-join's (no false negatives —
    equality asserted in tests). This is the bench headline AND the
    100 TB path: the candidate join touches prefixes only, so a
    frequent shingle never fans out quadratically, and no df cap is
    needed. (r02 rewrite: window-count df/rnk/sz + array verify took
    it from 4.2s to ~0.9s at sf0.1 — faster than the naive join.)"""
    docs = _docs(spark, sf_dir)
    out = ngram_jaccard_pairs_prefix(docs, "doc_id", "text", n=3, threshold=0.5)
    return out.select(
        "doc_a", "doc_b", "inter", "sz_a", "sz_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


# Prefix-filtered oracle (r12): the naive flat self-join is
# Σ_shingle C(df,2) = 1.39e10 rows at the ×100 corpus (measured) —
# hours in any engine. Prefix filtering is LOSSLESS under ANY global
# rarest-first total order (two sets with J ≥ t must share a token in
# each one's (sz - ceil(t·sz) + 1)-prefix of that order), and the
# verify step computes exact Jaccard over the FULL sets via
# list_intersect, so the output is identical to the naive join row
# for row — the same argument that makes the Spark operator
# (dedup.py ngram_jaccard_pairs_prefix) output-equal to the plain
# join. The oracle's tie order is (df, shingle string); the engine's
# is (df, xxhash64) — candidate SETS differ, outputs cannot.
SQL_DEDUP_NGRAM_T50 = """
WITH toks AS (
    SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS shingles
    FROM toks
),
flat AS (
    SELECT doc_id AS doc, UNNEST(shingles) AS shingle FROM sh
),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM flat GROUP BY 1),
ann AS (
    SELECT doc, shingle,
           ROW_NUMBER() OVER (
               PARTITION BY doc ORDER BY d.df, shingle) AS rnk,
           COUNT(*) OVER (PARTITION BY doc) AS sz
    FROM flat JOIN dfreq d USING (shingle)
),
pref AS (
    SELECT doc, shingle, rnk, sz FROM ann
    WHERE rnk <= sz - CEIL(0.5 * sz - 1e-9) + 1
),
cand AS (
    -- grouped over ONE packed BIGINT (valid while doc_id < 1e9), not
    -- a 2-column tuple: the ×100 corpus feeds 1.67e9 candidate rows
    -- here and the tuple form's out-of-core partitioning exhausted
    -- 77 GB of spill. cnt carries the common-prefix COUNT bound and
    -- the positional filter runs on the pair's MIN ranks (see
    -- ngram_jaccard_pairs_prefix: a true pair shares at least
    -- alpha - max(ceil(t·sz)) + 1 PREFIX tokens, and per-row
    -- positional filtering would undercut that count — lossless,
    -- cut the verify input 37× at the ×100 corpus).
    SELECT pk FROM (
        SELECT a.doc * 1000000000 + b.doc AS pk, COUNT(*) AS cnt,
               MIN(a.rnk) AS mra, MIN(b.rnk) AS mrb,
               any_value(a.sz) AS sza, any_value(b.sz) AS szb
        FROM pref a JOIN pref b USING (shingle)
        WHERE a.doc < b.doc
          AND b.sz >= 0.5 * a.sz - 1e-9
          AND a.sz >= 0.5 * b.sz - 1e-9
        GROUP BY 1)
    WHERE 1 + LEAST(sza - mra, szb - mrb)
              >= CEIL((sza + szb) / 3.0 - 1e-9)
      AND cnt >= CEIL((sza + szb) / 3.0 - 1e-9)
               - GREATEST(CEIL(0.5 * sza + 1e-9), CEIL(0.5 * szb + 1e-9))
               + 1
),
cpair AS (
    SELECT pk // 1000000000 AS doc_a, pk % 1000000000 AS doc_b FROM cand
),
scored AS (
    SELECT doc_a, doc_b,
           len(list_intersect(sa.shingles, sb.shingles)) AS inter,
           len(sa.shingles) AS sz_a, len(sb.shingles) AS sz_b
    FROM cpair
    JOIN sh sa ON sa.doc_id = doc_a
    JOIN sh sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, inter, sz_a, sz_b,
       ROUND(inter / (sz_a + sz_b - inter), 6) AS jaccard
FROM scored
WHERE inter / (sz_a + sz_b - inter) >= 0.5
"""


def q_dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin with the per-doc shingle cap (the mega-document skew
    guard, VERDICT r04 #6): every document contributes at most its 40
    rarest shingles, so one book-length outlier cannot concentrate a
    quadratic candidate fan-out or an unbounded verify array in a
    single task. Output = EXACT threshold-Jaccard over the capped
    (rarest-40) sets — deterministic and fully value-oracled (rank
    ties on the shingle string, portable to DuckDB)."""
    docs = _docs(spark, sf_dir)
    out = ngram_jaccard_pairs_prefix(
        docs, "doc_id", "text", n=3, threshold=0.5, max_shingles_per_doc=40
    )
    return out.select(
        "doc_a", "doc_b", "inter", "sz_a", "sz_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


# Prefix-filtered like SQL_DEDUP_NGRAM_T50 above (same losslessness
# argument, over the CAPPED rarest-40 sets): df ranks come from the
# full pre-cap flat table, the cap keeps rnk <= 40 (so rnk is also
# the within-capped rank), and exact Jaccard is verified over the
# capped lists.
SQL_DEDUP_NGRAM_CAPPED = """
WITH toks AS (
    SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS shingles
    FROM toks
),
flat AS (
    SELECT doc_id AS doc, UNNEST(shingles) AS shingle FROM sh
),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM flat GROUP BY 1),
ranked AS (
    SELECT doc, shingle,
           ROW_NUMBER() OVER (
               PARTITION BY doc ORDER BY d.df, shingle) AS rnk
    FROM flat JOIN dfreq d USING (shingle)
),
capped AS (SELECT doc, shingle, rnk FROM ranked WHERE rnk <= 40),
csz AS (SELECT doc, COUNT(*) AS sz FROM capped GROUP BY doc),
pref AS (
    SELECT c.doc, c.shingle, c.rnk, s.sz
    FROM capped c JOIN csz s USING (doc)
    WHERE c.rnk <= s.sz - CEIL(0.5 * s.sz - 1e-9) + 1
),
cand AS (
    -- packed-BIGINT group + common-prefix count bound + min-rank
    -- positional filter: see SQL_DEDUP_NGRAM_T50 (1.26e9 candidate
    -- rows at the ×100 corpus; tuple-distinct spill exhausted the
    -- disk, and without the cnt bound both engines verify 1e9+
    -- pairs). Valid while doc_id < 1e9.
    SELECT pk FROM (
        SELECT a.doc * 1000000000 + b.doc AS pk, COUNT(*) AS cnt,
               MIN(a.rnk) AS mra, MIN(b.rnk) AS mrb,
               any_value(a.sz) AS sza, any_value(b.sz) AS szb
        FROM pref a JOIN pref b USING (shingle)
        WHERE a.doc < b.doc
          AND b.sz >= 0.5 * a.sz - 1e-9
          AND a.sz >= 0.5 * b.sz - 1e-9
        GROUP BY 1)
    WHERE 1 + LEAST(sza - mra, szb - mrb)
              >= CEIL((sza + szb) / 3.0 - 1e-9)
      AND cnt >= CEIL((sza + szb) / 3.0 - 1e-9)
               - GREATEST(CEIL(0.5 * sza + 1e-9), CEIL(0.5 * szb + 1e-9))
               + 1
),
cpair AS (
    SELECT pk // 1000000000 AS doc_a, pk % 1000000000 AS doc_b FROM cand
),
clist AS (SELECT doc, list(shingle) AS s FROM capped GROUP BY doc),
scored AS (
    SELECT doc_a, doc_b,
           len(list_intersect(sa.s, sb.s)) AS inter,
           len(sa.s) AS sz_a, len(sb.s) AS sz_b
    FROM cpair
    JOIN clist sa ON sa.doc = doc_a
    JOIN clist sb ON sb.doc = doc_b
)
SELECT doc_a, doc_b, inter, sz_a, sz_b,
       ROUND(inter / (sz_a + sz_b - inter), 6) AS jaccard
FROM scored
WHERE inter / (sz_a + sz_b - inter) >= 0.5
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs. FULL oracle: the portable md5-seeded
    permutations make the whole signature→band→candidate pipeline
    reproducible in DuckDB (recall vs exact Jaccard additionally
    asserted in tests)."""
    docs = _docs_unspread(spark, sf_dir)
    return minhash_candidates(docs, "doc_id", "text", n_hashes=32, bands=8)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-corpus dedup candidates (odd doc_ids are the
    arriving batch, even the existing corpus): LSH band join between
    the two sides only — the nightly-ingest shape where the corpus
    band table is precomputed and partitioned by (band, bucket), so
    each batch joins linearly in its own size, never corpus×corpus."""
    from journal_batch_processer_spark.operators.dedup import (
        minhash_candidates_incremental,
    )

    docs = _docs_unspread(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    return minhash_candidates_incremental(
        new, old, "doc_id", "text", n_hashes=32, bands=8
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing sample: per-stratum deterministic
    md5-threshold keep rates (en downsampled hard, zh kept whole —
    the boundary fraction 1.0 exercises the 'g' sentinel), other
    languages dropped. Stable across runs/partitionings/engines and
    nested across fractions — properties df.sampleBy lacks."""
    from journal_batch_processer_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    out = stratified_sample(
        docs, "doc_id", "lang", {"en": 0.25, "de": 0.5, "zh": 1.0}
    )
    return out.select("doc_id", "lang")


def _stratified_oracle_sql() -> str:
    from journal_batch_processer_spark.operators.sampling import (
        stratum_threshold,
    )

    def keep(frac: float) -> str:
        t = stratum_threshold(frac)
        if t == "g":  # full range: threshold above every hex digit
            return "TRUE"
        return f"substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{t}'"

    return f"""
SELECT doc_id, lang FROM documents
WHERE (lang = 'en' AND {keep(0.25)})
   OR (lang = 'de' AND {keep(0.5)})
   OR (lang = 'zh' AND {keep(1.0)})
"""


SQL_SAMPLE_STRATIFIED = _stratified_oracle_sql()


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: every 50th doc plays the held-out
    benchmark set; a training doc is contaminated when it shares ≥ 3
    distinct 3-gram shingles with ANY benchmark text. One shingle
    equi-join (benchmark side is tiny → broadcast) + one aggregate —
    the standard eval-leak scan a training pipeline runs before
    shipping a corpus."""
    from journal_batch_processer_spark.operators.dedup import shingle_table

    docs = _docs_unspread(spark, sf_dir)
    sh = shingle_table(docs, "doc_id", "text", n=3)
    bench_sh = (
        sh.filter(F.col("doc") % 50 == 0).select("shingle").distinct()
    )
    train_sh = sh.filter(F.col("doc") % 50 != 0)
    shared = (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    train = docs.filter(F.col("doc_id") % 50 != 0).select("doc_id")
    out = train.join(shared, train["doc_id"] == shared["doc"], "left")
    n_shared = F.coalesce(F.col("n_shared"), F.lit(0))
    return out.select(
        "doc_id",
        n_shared.alias("n_shared"),
        (n_shared >= 3).cast("int").alias("contaminated"),
    )


SQL_DECONTAMINATE = """
WITH toks AS (
    SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS shingles
    FROM toks
),
flat AS (SELECT doc_id AS doc, UNNEST(shingles) AS shingle FROM sh),
bench AS (SELECT DISTINCT shingle FROM flat WHERE doc % 50 = 0),
shared AS (
    SELECT doc, COUNT(*) AS n_shared
    FROM flat JOIN bench USING (shingle)
    WHERE doc % 50 <> 0
    GROUP BY doc
)
SELECT d.doc_id,
       COALESCE(s.n_shared, 0) AS n_shared,
       CAST(COALESCE(s.n_shared, 0) >= 3 AS INT) AS contaminated
FROM documents d LEFT JOIN shared s ON s.doc = d.doc_id
WHERE d.doc_id % 50 <> 0
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return simhash_fingerprint(docs, "doc_id", "text", bits=32)


def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates + exact verification at j≥0.5 — equals the exact
    all-pairs sweep on this corpus (16×2 banding: recall ≈0.99 at the
    threshold, ≈1.0 for the actual planted near-dups at j≥0.7)."""
    docs = _docs_unspread(spark, sf_dir)
    out = near_dup_pairs(docs, "doc_id", "text", threshold=0.5)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


SQL_DEDUP_NEAR = """
WITH toks AS (
    SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS shingles
    FROM toks
),
flat AS (
    SELECT doc_id AS doc, UNNEST(shingles) AS shingle FROM sh
),
sizes AS (SELECT doc, COUNT(*) AS sz FROM flat GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
    FROM flat a JOIN flat b USING (shingle)
    WHERE a.doc < b.doc
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
"""


def _minhash_band_cte(
    n_hashes: int = 32, bands: int = 8, source: str = "documents"
) -> str:
    """Generated DuckDB CTE chain reproducing the LSH band table —
    md5-derived shingle hash, the same affine permutations, band
    buckets — shared by the self-join (dedup_minhash) and the
    new-vs-corpus (dedup_incremental) oracles. Constants come from
    the SAME minhash_perm() the Spark operator uses (_MERSENNE
    modulus, pairwise-independent large multipliers — see its
    docstring for why the old a=2j+1 family broke banding recall)."""
    m = (1 << 31) - 1
    r = n_hashes // bands
    sig_aggs = ",\n           ".join(
        "MIN((h * {a} + {b}) % {m}) AS s{j}".format(
            a=minhash_perm(j)[0], b=minhash_perm(j)[1], m=m, j=j
        )
        for j in range(n_hashes)
    )
    band_rows = "\n    UNION ALL ".join(
        "SELECT doc, {b} AS band, {expr} AS bucket FROM sig".format(
            b=b,
            expr=" || ',' || ".join(f"s{b * r + j}::VARCHAR" for j in range(r)),
        )
        for b in range(bands)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, string_split(lower(text), ' ') AS t FROM {source}
),
sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS shingles
    FROM toks
),
flat AS (SELECT doc_id AS doc, UNNEST(shingles) AS shingle FROM sh),
h AS (
    SELECT doc, ('0x' || substring(md5(shingle), 1, 15))::BIGINT % {m} AS h
    FROM flat
),
sig AS (SELECT doc, {sig_aggs} FROM h GROUP BY doc),
banded AS (
    {band_rows}
)
"""


SQL_DEDUP_MINHASH = _minhash_band_cte() + """
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
FROM banded a
JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
"""

SQL_DEDUP_INCREMENTAL = _minhash_band_cte() + """
SELECT DISTINCT a.doc AS new_doc, b.doc AS old_doc
FROM banded a
JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
WHERE a.doc % 2 = 1 AND b.doc % 2 = 0
"""


def _simhash_oracle_sql(bits: int = 32) -> str:
    """Generated DuckDB oracle for the SimHash bit-vote aggregate over
    the portable md5 token hash."""
    votes = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {b}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return f"""
WITH toks AS (
    SELECT doc_id AS doc, UNNEST(string_split(lower(text), ' ')) AS tok
    FROM documents
),
h AS (SELECT doc, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks),
votes AS (SELECT doc, {votes} FROM h GROUP BY doc)
SELECT doc, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


SQL_DEDUP_SIMHASH = _simhash_oracle_sql()

_SIMHASH_K = 3
_SIMHASH_BITS = 60  # 4 blocks x 15 bits — the at-scale block width


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via Manku block probing (WWW'07): 60-bit
    fingerprints split into k+1=4 15-bit blocks; pigeonhole makes the
    (block_idx, value) equi-join a complete candidate generator for
    Hamming ≤ 3, one popcount verifies — the web-crawl dedup shape,
    never all-pairs. Block WIDTH is the scale knob (Manku's table):
    8-bit blocks (256 cells) measured fine to ~50k docs but OOM'd the
    candidate join at 500k docs on the dup-dense 100× corpus; 15-bit
    blocks (32768 cells) keep per-cell membership — and so candidate
    pressure — ~128× lower at identical recall. Full oracle:
    fingerprint votes, block packing, candidate join and popcount all
    replayed in SQL."""
    from journal_batch_processer_spark.operators.dedup import (
        simhash_near_pairs,
    )

    docs = _docs(spark, sf_dir)
    return simhash_near_pairs(
        docs, "doc_id", "text", bits=_SIMHASH_BITS, max_hamming=_SIMHASH_K
    )


def _simhash_pairs_oracle_sql(bits: int = None, k: int = _SIMHASH_K) -> str:
    bits = _SIMHASH_BITS if bits is None else bits
    width = bits // (k + 1)
    bvs = ", ".join(
        f"(simhash >> {i * width}) % {1 << width}" for i in range(k + 1)
    )
    return f"""
WITH fp AS ({_simhash_oracle_sql(bits)}),
b AS (
    SELECT doc, simhash,
           UNNEST(range(0, {k + 1})) AS blk,
           UNNEST([{bvs}]) AS bv
    FROM fp
),
cand AS (
    SELECT DISTINCT a.doc AS doc_a, c.doc AS doc_b,
           a.simhash AS fa, c.simhash AS fb
    FROM b a JOIN b c ON a.blk = c.blk AND a.bv = c.bv AND a.doc < c.doc
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= {k}
"""


SQL_DEDUP_SIMHASH_PAIRS = _simhash_pairs_oracle_sql()


def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer et al. SIGMOD'03,
    the MOSS rule): k=4-token gram hashes, w=5 windows, each window's
    rightmost-minimal hash kept — any shared run of >= w+k-1 tokens
    between documents shares a fingerprint at ~2/(w+1) density, and a
    doc's signature is corpus-independent (the stable-sharding
    property global-df methods lack). Full oracle: gram hashing,
    the unique rank key, window minima, full-window gating and the
    recover join are all replayed in SQL."""
    from journal_batch_processer_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = _docs(spark, sf_dir)
    return winnow_fingerprints(docs, "doc_id", "text", k=4, w=5)


SQL_TEXT_WINNOWING = """
WITH toks AS (
    SELECT doc_id AS doc, string_split(lower(text), ' ') AS t FROM documents
),
grams AS (
    SELECT doc, UNNEST(range(1, len(t) - 2)) AS i, t
    FROM toks WHERE len(t) >= 4
),
g AS (
    SELECT doc, i - 1 AS idx,
           ('0x' || substring(md5(array_to_string(t[i:i+3], ' ')), 1, 15))::BIGINT AS fp
    FROM grams
),
gk AS (
    SELECT doc, idx, fp,
           printf('%015x%06d', fp, 999999 - idx) AS key
    FROM g
),
wm AS (
    SELECT DISTINCT doc, wmin FROM (
        SELECT doc, idx,
               MIN(key) OVER (PARTITION BY doc ORDER BY idx
                              ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wmin,
               COUNT(*) OVER (PARTITION BY doc) AS n
        FROM gk
    ) WHERE idx <= n - 5
)
SELECT gk.doc AS doc, gk.idx AS pos, gk.fp AS fp
FROM wm JOIN gk ON wm.doc = gk.doc AND wm.wmin = gk.key
"""

_WINNOW_MIN_SHARED = 2


def q_text_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates from winnowed fingerprints: documents
    sharing >= 2 selected fingerprints, with the shared count — the
    equi-join-on-fingerprint candidate generator winnowing exists
    for (MOSS's match step): density ~2/(w+1) makes the join input a
    fraction of the gram stream, and the guarantee bounds what the
    selection can miss (any shared run >= w+k-1 tokens IS a shared
    fingerprint)."""
    from journal_batch_processer_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = _docs(spark, sf_dir)
    # pin: the fingerprint table feeds BOTH sides of the self-join —
    # unpinned, the whole winnow pipeline (grams → window minima →
    # recover join) executed twice (scoped release per cache.py)
    fp = pin(winnow_fingerprints(docs, "doc_id", "text", k=4, w=5))
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.fp").alias("fp"),
        )
        .distinct()  # a fingerprint selected at several positions counts once
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
    )


SQL_TEXT_WINNOWING_PAIRS = f"""
WITH base AS ({SQL_TEXT_WINNOWING})
SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared FROM (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b, a.fp
    FROM base a JOIN base b ON a.fp = b.fp AND a.doc < b.doc
)
GROUP BY doc_a, doc_b
HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
"""

def q_text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle n-gram language ID (1994, the rank-order
    out-of-place method — a REAL langid upgrade over the en-marker
    heuristic of `text_langid`): per-language top-20 character-trigram
    profiles trained once driver-side from the labeled corpus and
    inlined as literals into BOTH engines (the IVF-training pattern);
    each document's own top-20 trigram ranking is compared
    out-of-place against every profile and the smallest distance
    wins. All-integer and deterministic end to end."""
    from journal_batch_processer_spark.operators.text_analysis import (
        langid_ngram,
        train_langid_profiles,
    )

    profiles = train_langid_profiles(f"{sf_dir}/documents.parquet")
    docs = _docs(spark, sf_dir)
    return langid_ngram(docs, "doc_id", "text", profiles)


def _langid_oracle_sql() -> str:
    """LAZY oracle: trains the identical profiles from the oracle sf
    dir and inlines them as VALUES literals; doc ranking, penalty and
    argmin replayed relationally with the same tie-breaks."""
    from journal_batch_processer_spark.operators.text_analysis import (
        train_langid_profiles,
    )

    sf_dir = oracle_sf_dir()
    profiles = train_langid_profiles(f"{sf_dir}/documents.parquet")

    def q(s: str) -> str:
        return s.replace("'", "''")

    prof_vals = ", ".join(
        f"('{q(lang)}', '{q(g)}', {rp + 1})"
        for lang, grams in profiles.items()
        for rp, g in enumerate(grams)
    )
    lang_vals = ", ".join(f"('{q(lang)}')" for lang in sorted(profiles))
    return f"""
WITH d AS (
    SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 3
),
grams AS (
    SELECT doc_id,
           UNNEST(list_transform(range(1, length(t) - 1),
                                 i -> substring(t, i, 3))) AS g
    FROM d
),
cnt AS (SELECT doc_id, g, COUNT(*) AS n FROM grams GROUP BY 1, 2),
top AS (
    SELECT doc_id, g, r FROM (
        SELECT doc_id, g,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, g) AS r
        FROM cnt
    ) WHERE r <= 20
),
prof(lang, g, rp) AS (VALUES {prof_vals}),
langs(lang) AS (VALUES {lang_vals}),
sc AS (
    SELECT t.doc_id, l.lang,
           CAST(SUM(CASE WHEN p.rp IS NOT NULL THEN abs(t.r - p.rp)
                         ELSE 21 END) AS BIGINT) AS dist
    FROM top t
    CROSS JOIN langs l
    LEFT JOIN prof p ON p.lang = l.lang AND p.g = t.g
    GROUP BY 1, 2
)
SELECT doc_id, lang AS pred_lang, dist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY dist, lang) AS rn
    FROM sc
) WHERE rn = 1
"""


SQL_TEXT_LANGID_NGRAM = _langid_oracle_sql





# embedding near-dup + similarity search ------------------------------------

_NORM_CTE = f"""
e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))
               AS nrm
    FROM embeddings
)
"""

_DOT_SQL = f"list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> a.v[i] * b.v[i]))"


def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs above cosine 0.4 — the exact near-dup sweep
    (LSH-bucketed variant is the scale path, q_sim_search_ann)."""
    embs = _embs(spark, sf_dir)
    e = embs.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("nrm", F.sqrt(dot_expr("v", "v", EMB_DIM)))
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cos = dot_expr("va", "vb", EMB_DIM) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.4)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def q_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for embedding near-dup: candidates restricted to
    one shared hyperplane bucket (equi-partition, linear in corpus +
    collisions — never all-pairs), exact cosine verify at ≥ 0.4 as
    per-bucket BLAS tiles (bucket_cosine_pairs — the vector-carrying
    bucket JOIN moved ~100 GB of row payload at the ×100 corpus and
    never finished; grouping ships each vector once). Full oracle via
    the same Python-inlined ±1 plane literals as sim_search_ann; at
    100 TB the corpus is written partitioned by bucket, making this a
    partition-pruned scan."""
    from journal_batch_processer_spark.operators.similarity import (
        bucket_cosine_pairs,
    )

    embs = _embs(spark, sf_dir)
    out = bucket_cosine_pairs(embs, EMB_DIM, n_planes=8, threshold=0.4)
    return out.select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine")
    )


def _embed_lsh_oracle_sql(n_planes: int = 8) -> str:
    from journal_batch_processer_spark.operators.similarity import plane_sign

    def proj(p: int) -> str:
        return " + ".join(
            f"v[{d + 1}] * {plane_sign(p, d)!r}" for d in range(EMB_DIM)
        )

    bucket = " + ".join(
        f"(CASE WHEN ({proj(p)}) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
WITH {_NORM_CTE},
b AS (SELECT vec_id, v, nrm, {bucket} AS bucket FROM e)
SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       ROUND({_DOT_SQL.replace('b.', 'c.')} / (a.nrm * c.nrm), 6) AS cosine
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE {_DOT_SQL.replace('b.', 'c.')} / (a.nrm * c.nrm) >= 0.4
"""


SQL_DEDUP_EMBED_LSH = _embed_lsh_oracle_sql()


SQL_DEDUP_EMBED = f"""
WITH {_NORM_CTE}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({_DOT_SQL} / (a.nrm * b.nrm), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_DOT_SQL} / (a.nrm * b.nrm) >= 0.4
"""


def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k via the Arrow/numpy path: one BLAS
    matrix multiply per corpus batch against the broadcast query
    matrix — measured 4× over the dim-unrolled expression fold at
    sf0.1 (0.29s vs 1.20s min-of-3), same ranked output (equality
    pinned in tests/test_scale_plans.py). The expression path stays
    as cosine_topk for the ANN/IVF variants."""
    from journal_batch_processer_spark.operators.similarity import (
        cosine_topk_numpy,
    )

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    out = cosine_topk_numpy(embs, queries, k=5)
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )


SQL_SIM_SEARCH = f"""
WITH {_NORM_CTE},
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           {_DOT_SQL.replace('a.v', 'q.v').replace('b.v', 'c.v')} AS dot,
           q.nrm * c.nrm AS nn
    FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
)
SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_DOT_SQL.replace('a.', 'q.').replace('b.', 'c.')} / (q.nrm * c.nrm) AS cosine,
           ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_DOT_SQL.replace('a.', 'q.').replace('b.', 'c.')} / (q.nrm * c.nrm) DESC,
                        c.vec_id) AS rank
    FROM e q JOIN e c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 10) t
WHERE rank <= 5
"""


_ANN_PROBE_BITS = 2  # multi-probe: query bucket + 1-bit flips of bits 0..1


def q_sim_search_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN with MULTI-PROBE (query bucket + 1-bit-flip
    neighbors of the first _ANN_PROBE_BITS planes — the near-boundary
    recall fix, VERDICT r04 #2). FULL oracle: the ±1 hyperplane matrix
    is computed in Python (md5 parity) and inlined as literals into
    both the Spark expression and the DuckDB SQL, and the oracle's
    join admits exactly the same probe set (XOR in {{0, 1, 2}}), so
    bucketing, candidate set, and ranked cosines are value-checked
    end-to-end (recall uplift vs single-probe asserted in tests)."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    return lsh_bucket_topk(
        embs, queries, dim=EMB_DIM, k=5, n_planes=6,
        n_probe_bits=_ANN_PROBE_BITS,
    ).select(
        "query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )


def _ann_oracle_sql(
    n_planes: int = 6, k: int = 5, n_probe_bits: int = _ANN_PROBE_BITS
) -> str:
    """DuckDB oracle for q_sim_search_ann: same sign literals, same
    left-to-right projection order, same bucket packing and ranking;
    the probe set is expressed as xor(c.bucket, q.bucket) being 0 or a
    flipped low bit — identical candidates to the exploded Spark side."""
    from journal_batch_processer_spark.operators.similarity import plane_sign

    def proj(p: int) -> str:
        return " + ".join(
            f"v[{d + 1}] * {plane_sign(p, d)!r}" for d in range(EMB_DIM)
        )

    bucket = " + ".join(
        f"(CASE WHEN ({proj(p)}) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    probe_xors = ", ".join(str(1 << p) for p in range(n_probe_bits))
    bucket_cond = (
        f"xor(c.bucket, q.bucket) IN (0, {probe_xors})"
        if n_probe_bits
        else "c.bucket = q.bucket"
    )
    dot = _DOT_SQL.replace("a.", "q.").replace("b.", "c.")
    return f"""
WITH {_NORM_CTE},
b AS (SELECT vec_id, v, nrm, {bucket} AS bucket FROM e)
SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {dot} / (q.nrm * c.nrm) AS cosine,
           ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {dot} / (q.nrm * c.nrm) DESC, c.vec_id
           ) AS rank
    FROM b q JOIN b c
      ON q.vec_id < 10 AND {bucket_cond} AND c.vec_id <> q.vec_id
) WHERE rank <= {k}
"""


SQL_SIM_SEARCH_ANN = _ann_oracle_sql()

_BQ_SHORTLIST = 32


def q_sim_search_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN (the vector-DB BQ tier): sign-bit
    codes packed 32 bits/word, Hamming XOR+popcount shortlist of 32,
    exact cosine re-rank to top-5 — 32× less memory traffic than the
    float brute force on the first pass, fully deterministic, so the
    ENTIRE two-stage pipeline carries a value oracle (DuckDB packs
    the identical words and ranks with the identical tie-breaks)."""
    from journal_batch_processer_spark.operators.similarity import (
        binary_sign_topk,
    )

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    return binary_sign_topk(
        embs, queries, dim=EMB_DIM, k=5, shortlist=_BQ_SHORTLIST
    ).select(
        "query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )


def _bq_oracle_sql(k: int = 5, shortlist: int = _BQ_SHORTLIST) -> str:
    words = []
    for lo in range(0, EMB_DIM, 32):
        bits = " + ".join(
            f"(CASE WHEN v[{d + 1}] > 0 THEN {1 << (d - lo)} ELSE 0 END)"
            for d in range(lo, min(lo + 32, EMB_DIM))
        )
        words.append(f"CAST({bits} AS BIGINT) AS w{lo // 32}")
    n_words = (EMB_DIM + 31) // 32
    ham = " + ".join(
        f"bit_count(xor(q.w{i}, c.w{i}))" for i in range(n_words)
    )
    dot = _DOT_SQL.replace("a.", "q.").replace("b.", "c.")
    return f"""
WITH {_NORM_CTE},
b AS (SELECT vec_id, v, nrm, {', '.join(words)} FROM e),
cand AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {ham} AS ham,
           {dot} / (q.nrm * c.nrm) AS cosine
    FROM b q JOIN b c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
),
short AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY ham, neighbor_id) AS hrank
    FROM cand
)
SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine FROM (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
           ) AS rank
    FROM short WHERE hrank <= {shortlist}
) WHERE rank <= {k}
"""


SQL_SIM_SEARCH_BINARY = _bq_oracle_sql()


def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN with TRAINED coarse centroids: deterministic
    spherical k-means over a portable-hash sample (VERDICT r04 #4 —
    first-N centroids gave no cell-balance guarantee). FULL oracle:
    training is reproducible from the parquet alone, so the identical
    centroid literals are inlined into both the Spark plan and the
    DuckDB SQL; cell assignment, probe set, and ranked cosines are
    value-checked end-to-end (cell balance additionally asserted in
    tests; models the partition-pruned cell layout used at scale)."""
    import os as _os

    from journal_batch_processer_spark.operators.similarity import (
        train_ivf_centroids,
    )

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    cents = train_ivf_centroids(
        _os.path.join(sf_dir, "embeddings.parquet"), n_centroids=16
    )
    return ivf_topk(
        embs, queries, k=5, n_centroids=16, n_probe=4, dim=EMB_DIM,
        centroids=cents,
    ).select(
        "query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine")
    )


def _ivf_oracle_sql(n_centroids: int = 16, n_probe: int = 4, k: int = 5) -> str:
    """LAZY DuckDB oracle for q_sim_search_ivf: trains the SAME
    deterministic centroids from the oracle's sf dir (driver pins
    sf0.01; env-overridable like the other fixture-dependent oracles)
    and inlines them as full-precision literals — nearest-cell
    assignment (ties on cent_id), n_probe cells per query, exact
    ranked cosine within probed cells."""
    import os as _os

    from journal_batch_processer_spark.operators.similarity import (
        train_ivf_centroids,
    )

    sf_dir = oracle_sf_dir()
    cents = train_ivf_centroids(
        _os.path.join(sf_dir, "embeddings.parquet"), n_centroids=n_centroids
    )
    vals = ",\n        ".join(
        f"({i}, [{', '.join(repr(v) for v in c)}])"
        for i, c in enumerate(cents)
    )
    dot_ec = _DOT_SQL.replace("a.", "e.").replace("b.", "c2.")
    dot_qc = _DOT_SQL.replace("a.", "q.").replace("b.", "c.")
    return f"""
WITH {_NORM_CTE},
cents AS (
    SELECT cent_id, v,
           sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                        i -> v[i] * v[i]))) AS nrm
    FROM (
        SELECT cent_id, v::DOUBLE[] AS v
        FROM (VALUES {vals}) t(cent_id, v)
    )
),
assigned AS (
    SELECT vec_id, v, nrm, cent_id, rn FROM (
        SELECT e.vec_id, e.v, e.nrm, c2.cent_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ({dot_ec} / (e.nrm * c2.nrm)) DESC, c2.cent_id
               ) AS rn
        FROM e CROSS JOIN cents c2
    )
)
SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {dot_qc} / (q.nrm * c.nrm) AS cosine,
           ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {dot_qc} / (q.nrm * c.nrm) DESC, c.vec_id
           ) AS rank
    FROM (SELECT * FROM assigned WHERE vec_id < 10 AND rn <= {n_probe}) q
    JOIN (SELECT * FROM assigned WHERE rn = 1) c
      ON c.cent_id = q.cent_id AND c.vec_id <> q.vec_id
) WHERE rank <= {k}
"""


# lazy: trains centroids at oracle-request time (fixture-dependent)
SQL_SIM_SEARCH_IVF = _ivf_oracle_sql


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir), "doc_id", "text")


# fixed retrieval probes for the BM25 key: literal (query_id, text) —
# one term intentionally absent from the corpus (zzzunseen) to pin the
# no-tf-rows behavior
_BM25_QUERIES = [
    (0, "join hash"),
    (1, "vector scan batch"),
    (2, "customer spark zzzunseen"),
]


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75, Lucene +1 idf) of three fixed probe
    queries against the documents corpus: the retrieval scorer behind
    quality-targeted corpus selection and decontamination probes.
    Broadcast semi-join on query terms, single-row corpus scalars by
    broadcast, per-term fold in term-sorted order for bit-stable float
    sums (operators/ranking.py docstring)."""
    from journal_batch_processer_spark.operators.ranking import bm25_scores

    return bm25_scores(_docs(spark, sf_dir), "doc_id", "text", _BM25_QUERIES)


SQL_TEXT_BM25 = """
WITH q(query_id, term) AS (
    VALUES (0, 'join'), (0, 'hash'),
           (1, 'vector'), (1, 'scan'), (1, 'batch'),
           (2, 'customer'), (2, 'spark'), (2, 'zzzunseen')
),
toks AS (
    SELECT doc_id, t AS term
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
          FROM documents)
    WHERE t <> ''
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (
    SELECT COUNT(*) AS n_docs, SUM(dl)::DOUBLE / COUNT(*) AS avgdl FROM dl
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks
    WHERE term IN (SELECT DISTINCT term FROM q)
    GROUP BY 1, 2
),
df AS (SELECT term, COUNT(*) AS df_ FROM tf GROUP BY 1),
per AS (
    SELECT q.query_id, tf.doc_id, tf.term,
           ROUND(ln(((stats.n_docs - df.df_)::DOUBLE + 0.5e0)
                    / (df.df_::DOUBLE + 0.5e0) + 1e0), 6)
           * (tf.tf::DOUBLE * (1.2e0 + 1e0)
              / (tf.tf::DOUBLE
                 + 1.2e0 * (1e0 - 0.75e0
                            + 0.75e0 * (dl.dl::DOUBLE / stats.avgdl)))) AS s
    FROM tf
    JOIN df USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    JOIN q USING (term)
)
SELECT query_id, doc_id,
       -- fold with explicit 0e0 init in term-sorted order: bit-identical
       -- to Spark's F.aggregate(parts, 0.0, acc + s)
       ROUND(list_reduce(list_prepend(0e0, list(s ORDER BY term)),
                         (a, x) -> a + x), 6) AS score
FROM per
GROUP BY 1, 2
"""


SQL_TEXT_TOKENS = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars,
       (length(text) - (len(string_split(text, ' ')) - 1))
           / len(string_split(text, ' ')) AS avg_token_len
FROM documents
"""

_STOP_SQL = "('" + "','".join(STOPWORDS) + "')"


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir), "doc_id", "text")


SQL_TEXT_QUALITY = f"""
WITH t AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n,
           len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL})) AS stop
    FROM documents
)
SELECT doc_id, n AS n_tokens, stop AS n_stopwords,
       stop / n AS stop_ratio,
       0.5 * least(n / 200.0, 1.0) + 0.5 * (stop / n) AS quality_score
FROM t
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir), "doc_id", "text")


def _markers_sql() -> str:
    cols = []
    for lang, ws in LANG_MARKERS.items():
        lst = "('" + "','".join(ws) + "')"
        cols.append(
            f"len(list_filter(string_split(text, ' '), x -> x IN {lst})) AS n_{lang}"
        )
    return ", ".join(cols)


SQL_TEXT_LANGID = f"""
WITH t AS (SELECT doc_id, {_markers_sql()} FROM documents)
SELECT doc_id, n_en, n_de, n_es, n_fr,
       CASE WHEN greatest(n_en, n_de, n_es, n_fr) <= 0 THEN 'und'
            WHEN n_en = greatest(n_en, n_de, n_es, n_fr) THEN 'en'
            WHEN n_de = greatest(n_en, n_de, n_es, n_fr) THEN 'de'
            WHEN n_es = greatest(n_en, n_de, n_es, n_fr) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM t
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_docs(spark, sf_dir), "doc_id", "text")


SQL_TEXT_FINGERPRINT = r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Umbrella text-analysis pass: one scan, all signals (token stats
    + quality + language id + fingerprint) — the shape a real corpus
    sweep uses so the text is read once."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    en_arr = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_en = F.size(F.filter(toks, lambda t: F.array_contains(en_arr, t)))
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        (stop / n).alias("stop_ratio"),
        n_en.alias("n_en_markers"),
        F.md5(norm).alias("fingerprint"),
    )


_EN_SQL = "('" + "','".join(LANG_MARKERS["en"]) + "')"

SQL_TEXT_ANALYSIS = rf"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars,
       len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL}))
           / len(string_split(text, ' ')) AS stop_ratio,
       len(list_filter(string_split(text, ' '), x -> x IN {_EN_SQL})) AS n_en_markers,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def q_text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization (letters / digits / other runs) —
    the pre-tokenizer shape BPE vocabularies use; dialect-portable
    pattern so the oracle counts identically."""
    docs = _docs(spark, sf_dir)
    pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0)).alias(
            "n_bpe_tokens"
        ),
    )


SQL_TEXT_TOKENS_BPE = """
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens
FROM documents
"""


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure over exact-Jaccard pairs (>= 0.2): iterative
    min-label connected components; every doc gets a cluster and the
    min-id representative flag. The iterative loop has a FULL oracle —
    DuckDB's recursive CTE computes the same fixpoint.

    Generator note (r07, measured): at threshold 0.2 the PPJoin prefix
    keeps ~80% of each doc's shingles (len = sz - ceil(t·sz) + 1), so
    the prefix-filtered generator pays its two ranking windows for
    almost no candidate reduction and measures SLOWER here (4.0s vs
    3.0s at sf0.1) — the df-capped naive join stays the right choice
    at low thresholds; the prefix path wins at t ≳ 0.5 (dedup_ngram
    _prefix: 0.69s vs 2.1s in the same bench)."""
    from journal_batch_processer_spark.operators.graph import cluster_assignments

    docs = _docs_unspread(spark, sf_dir)
    pairs = ngram_jaccard_pairs_auto(
        docs, "doc_id", "text", n=3, threshold=0.2, max_shingle_df=20
    )
    return cluster_assignments(docs, "doc_id", pairs)


# The connected-component fixpoint (min-label propagation as a
# recursive CTE) is by far the most expensive oracle fragment in the
# registry — at 10×-sf0.1 sweeps it dominated wall time. Two fixes:
# (a) the non-recursive CTEs are AS MATERIALIZED — inside a WITH
# RECURSIVE, DuckDB otherwise re-evaluates the inlined pair join every
# fixpoint round (151 s → 11 s at 10×-sf0.1, same rows); (b) it is
# factored out standalone so tools/check_oracle.py can materialize it
# once into a temp table and serve both dependent keys from it
# (ORACLE_PRECOMPUTE below); the driver-facing oracle strings stay
# self-contained single statements.
SQL_CC_FIXPOINT = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({SQL_DEDUP_NGRAM}),
strong AS MATERIALIZED (
    SELECT doc_a, doc_b FROM pairs
    WHERE inter / (sz_a + sz_b - inter) >= 0.2
),
e AS MATERIALIZED (
    SELECT doc_a AS s, doc_b AS d FROM strong
    UNION ALL SELECT doc_b, doc_a FROM strong
),
lab(n, l) AS (
    SELECT DISTINCT s, s FROM e
    UNION
    SELECT e.d, lab.l FROM lab JOIN e ON e.s = lab.n WHERE lab.l < e.d
)
SELECT n, min(l) AS component FROM lab GROUP BY n
"""


def _cluster_sql(cc_expr: str) -> str:
    return f"""
WITH cc AS {cc_expr}
SELECT d.doc_id,
       coalesce(cc.component, d.doc_id) AS cluster_id,
       CAST(d.doc_id = coalesce(cc.component, d.doc_id) AS INT) AS is_rep
FROM documents d LEFT JOIN cc ON cc.n = d.doc_id
"""


_CC_INLINE = f"MATERIALIZED ({SQL_CC_FIXPOINT})"
_CC_TABLE = "(SELECT n, component FROM _cc_fixpoint)"
SQL_DEDUP_CLUSTER = _cluster_sql(_CC_INLINE)
SQL_DEDUP_CLUSTER_CC = _cluster_sql(_CC_TABLE)


# ---------------------------------------------------------------------------
# corpus filter battery: PII scrub, repetition, quality gate, splits
# ---------------------------------------------------------------------------


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over text augmented with deterministic synthetic
    PII (the raw corpus is PII-free word salad, so both engines inject
    the same email/IP/phone per doc_id and the scrub is genuinely
    exercised)."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"),
        F.lit("@example.com from 10.2."), (did % 256).cast("string"),
        F.lit("."), (did % 100).cast("string"),
        F.lit(" call +1 555 01"),
        F.lpad((did % 100).cast("string"), 2, "0"),
    )
    return pii_scrub(docs.withColumn("text", aug), "doc_id", "text")


_PII_AUG_SQL = (
    "text || ' contact user' || doc_id || '@example.com from 10.2.' || "
    "(doc_id % 256) || '.' || (doc_id % 100) || ' call +1 555 01' || "
    "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
)

SQL_TEXT_PII_SCRUB = rf"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS s FROM documents),
e AS (
    SELECT doc_id,
           len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS n_email,
           regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS s
    FROM aug),
i AS (
    SELECT doc_id, n_email,
           len(regexp_extract_all(s, '\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}')) AS n_ip,
           regexp_replace(s, '\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}', '<IP>', 'g') AS s
    FROM e)
SELECT doc_id, n_email, n_ip,
       len(regexp_extract_all(s, '\+\d{{1,3}} \d{{3}} \d{{3,6}}')) AS n_phone,
       regexp_replace(s, '\+\d{{1,3}} \d{{3}} \d{{3,6}}', '<PHONE>', 'g') AS scrubbed
FROM i
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(_docs(spark, sf_dir), "doc_id", "text")


SQL_TEXT_REPETITION = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
rk AS (
    SELECT doc_id, tok, c,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tok) AS rn
    FROM cnt
),
per AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
           max(CASE WHEN rn = 1 THEN tok END) AS top_token,
           max(CASE WHEN rn = 1 THEN c END) AS top_c
    FROM rk GROUP BY 1
),
bi AS (
    SELECT doc_id,
           CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END AS n_bi,
           CASE WHEN len(t) >= 2 THEN len(list_distinct(
               list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])))
               ELSE 0 END AS n_bi_distinct
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
)
SELECT p.doc_id, p.n_tokens, p.n_distinct,
       ROUND(p.n_distinct / p.n_tokens, 6) AS distinct_ratio,
       p.top_token,
       ROUND(p.top_c / p.n_tokens, 6) AS top_token_frac,
       ROUND(CASE WHEN b.n_bi > 0
                  THEN (b.n_bi - b.n_bi_distinct) / b.n_bi
                  ELSE 0.0 END, 6) AS dup_bigram_frac
FROM per p JOIN bi b ON b.doc_id = p.doc_id
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = quality_gate(_docs(spark, sf_dir), "doc_id", "text")
    # int flags: the driver's value-hash treats bool representation as
    # engine-specific; 0/1 is portable.
    flags = ["ok_length", "ok_mean_len", "ok_stopwords", "ok_symbols", "keep"]
    return out.select(
        "doc_id", "n_tokens", "mean_token_len", "stop_ratio", "symbol_ratio",
        *[F.col(c).cast("int").alias(c) for c in flags],
    )


SQL_QUALITY_FILTER = f"""
WITH t AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n,
           length(text) AS nc,
           len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL})) AS stop,
           length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS sym
    FROM documents
),
m AS (
    SELECT doc_id, n, nc, stop, sym,
           (nc - (n - 1)) / n AS mean_len,
           stop / n AS stop_ratio,
           sym / nc AS sym_ratio,
           CAST(n >= 50 AND n <= 100000 AS INT) AS ok_length,
           CAST((nc - (n - 1)) / n >= 3.0 AND (nc - (n - 1)) / n <= 10.0 AS INT) AS ok_mean_len,
           CAST(stop / n >= 0.02 AS INT) AS ok_stopwords,
           CAST(sym / nc <= 0.1 AS INT) AS ok_symbols
    FROM t
)
SELECT doc_id, n AS n_tokens,
       ROUND(mean_len, 6) AS mean_token_len,
       ROUND(stop_ratio, 6) AS stop_ratio,
       ROUND(sym_ratio, 6) AS symbol_ratio,
       ok_length, ok_mean_len, ok_stopwords, ok_symbols,
       ok_length * ok_mean_len * ok_stopwords * ok_symbols AS keep
FROM m
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hash_split(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "bucket", "split"
    )


SQL_HASH_SPLIT = """
SELECT doc_id,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_sample_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return deterministic_sample(_docs(spark, sf_dir), "doc_id", 0.1).select("doc_id")


SQL_SAMPLE_STABLE = """
SELECT doc_id FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
"""


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED corpus pass under one full oracle: quality gate →
    PII scrub → exact-hash dedup → train/val/test split, exactly the
    corpus.corpus_pipeline the CLI lake writer runs. Text is augmented
    with the deterministic synthetic PII (same injection as
    text_pii_scrub) so the scrub genuinely rewrites every doc — and
    since the injected tail collapses to constant placeholders, the
    content-hash dedup still groups docs whose BASE text is identical.
    One shuffle end-to-end (the dedup window)."""
    from journal_batch_processer_spark.corpus import corpus_pipeline

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"),
        F.lit("@example.com from 10.2."), (did % 256).cast("string"),
        F.lit("."), (did % 100).cast("string"),
        F.lit(" call +1 555 01"),
        F.lpad((did % 100).cast("string"), 2, "0"),
    )
    out = corpus_pipeline(docs.withColumn("text", aug))
    return out.select("doc_id", "text", "n_email", "n_ip", "n_phone", "split")


SQL_CORPUS_PIPELINE = rf"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents),
g AS (
    SELECT doc_id, text,
           len(string_split(text, ' ')) AS n,
           length(text) AS nc,
           len(list_filter(string_split(text, ' '), x -> x IN {_STOP_SQL})) AS stop,
           length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS sym
    FROM aug
),
kept AS (
    SELECT doc_id, text FROM g
    WHERE n >= 50 AND n <= 100000
      AND (nc - (n - 1)) / n >= 3.0 AND (nc - (n - 1)) / n <= 10.0
      AND stop / n >= 0.02 AND sym / nc <= 0.1
),
e AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS n_email,
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS s
    FROM kept),
i AS (
    SELECT doc_id, n_email,
           len(regexp_extract_all(s, '\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}')) AS n_ip,
           regexp_replace(s, '\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}', '<IP>', 'g') AS s
    FROM e),
p AS (
    SELECT doc_id, n_email, n_ip,
           len(regexp_extract_all(s, '\+\d{{1,3}} \d{{3}} \d{{3,6}}')) AS n_phone,
           regexp_replace(s, '\+\d{{1,3}} \d{{3}} \d{{3,6}}', '<PHONE>', 'g') AS s
    FROM i),
d AS (
    SELECT doc_id, s, n_email, n_ip, n_phone,
           ROW_NUMBER() OVER (PARTITION BY md5(s) ORDER BY doc_id) AS rn
    FROM p)
SELECT doc_id, s AS text, n_email, n_ip, n_phone,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
            ELSE 'test' END AS split
FROM d WHERE rn = 1
"""


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON serialization fidelity gate: every doc row → to_json →
    from_json → fields. The oracle is the identity select, so any
    lossiness in the engine's JSON writer/parser (type coercion,
    unicode mangling, null handling) hash-fails. JSONL being the
    interchange format of training corpora makes this a contract
    worth pinning, not a toy."""
    docs = _docs(spark, sf_dir)
    schema = "doc_id bigint, lang string, source string, n_chars bigint"
    j = F.to_json(F.struct("doc_id", "lang", "source", "n_chars"))
    return (
        docs.select(j.alias("j"))
        .select(F.from_json("j", schema).alias("r"))
        .select("r.*")
    )


SQL_JSON_ROUNDTRIP = """
SELECT doc_id, lang, source, n_chars FROM documents
"""


def q_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real JSONL file round-trip: write the documents table as JSONL
    (the spark.write.json path), read it back with an explicit schema
    (spark.read.json), aggregate. Oracle aggregates the original
    parquet — so writer+reader fidelity is value-checked through the
    actual file format, not just the in-memory codec."""
    import os as _os

    out = fixture_root("jsonl", sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang", "source", "n_chars")
    fixture_dir(
        out,
        "jsonl",
        [_os.path.join(sf_dir, "documents.parquet")],
        lambda: docs.write.mode("overwrite").json(out),
    )
    back = spark.read.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).json(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_text_len"),
    )


SQL_JSONL_SCAN = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) AS BIGINT) AS total_text_len
FROM documents GROUP BY lang
"""


def q_jsonl_scan_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED JSONL round-trip: write the documents table as
    gzip-compressed JSONL (spark.write.option('compression','gzip')),
    read it back with an explicit schema, aggregate. The oracle
    aggregates the original parquet, so codec+writer+reader fidelity
    is value-checked through real .json.gz files.

    Scale note: gzip is NOT splittable — one stream per file — so at
    100 TB the writer must emit many moderate files (this plan's
    per-partition files do exactly that); prefer zstd/snappy parquet
    or many-file gzip JSONL over few huge .gz blobs."""
    import os as _os

    out = fixture_root("jsonl_gz", sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang", "source", "n_chars")
    fixture_dir(
        out,
        "jsonl_gz",
        [_os.path.join(sf_dir, "documents.parquet")],
        lambda: docs.write.mode("overwrite").option("compression", "gzip").json(out),
    )
    back = spark.read.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).json(out)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_text_len"),
    )


SQL_JSONL_SCAN_GZ = """
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) AS BIGINT) AS total_text_len
FROM documents GROUP BY source
"""


_ENT_MAX_K = 1024  # log2 lookup domain; token counts beyond it -> NULL (visible)


def _log2_literals() -> list[tuple[int, float]]:
    import math

    return [(k, math.log2(k)) for k in range(1, _ENT_MAX_K + 1)]


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token-level Shannon entropy — the classic quality/
    gibberish signal — with a BIT-EXACT oracle despite the
    transcendentals: log2 values come from a 1024-row broadcast
    LITERAL table (generated once in Python, inlined into both the
    Spark plan and the DuckDB VALUES), and the weighted sum folds over
    the token-sorted count list so both engines add in the same order.
    H = log2(n) − (Σ k·log2 k)/n over per-token counts k.

    Plan shape: explode→(doc,tok) count (one shuffle), per-doc sorted
    fold (second shuffle on doc), two broadcast joins against the log
    table. No UDF, no rounding, no approximation."""
    docs = _docs(spark, sf_dir)
    logt = spark.createDataFrame(_log2_literals(), "k long, lg double")
    counts = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    per = (
        counts.join(F.broadcast(logt), "k", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("tok"), (F.col("k") * F.col("lg")).alias("klg"))
                )
            ).alias("cc"),
        )
    )
    logn = logt.select(F.col("k").alias("n_tokens"), F.col("lg").alias("lg_n"))
    return (
        per.join(F.broadcast(logn), "n_tokens", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            (
                F.col("lg_n")
                - F.aggregate(
                    F.col("cc"), F.lit(0.0), lambda a, x: a + x["klg"]
                )
                / F.col("n_tokens")
            ).alias("entropy"),
        )
    )


def _text_entropy_oracle_sql() -> str:
    # e-notation on every literal: DuckDB types bare decimal literals
    # as DECIMAL, and BOTH the VALUES unification and the
    # DECIMAL→DOUBLE cast can lose the last ulp (measured:
    # 3.9068905956085187::DOUBLE → ...183). An exponent suffix makes
    # the parser read the literal directly as DOUBLE via strtod,
    # which is correctly rounded — bit-identical to the Python double
    def _lit(x: float) -> str:
        r = repr(x)
        return r if "e" in r or "E" in r else r + "e0"

    vals = ", ".join(f"({k}, {_lit(lg)})" for k, lg in _log2_literals())
    return f"""
WITH logt(k, lg) AS (VALUES {vals}),
toks AS (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
),
counts AS (
    SELECT doc_id, tok, COUNT(*) AS k FROM toks GROUP BY 1, 2
),
per AS (
    SELECT c.doc_id,
           CAST(SUM(c.k) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           -- list_reduce, NOT list_sum: list_sum may sum pairwise,
           -- which differs from Spark's sequential fold in the last
           -- ulp; list_reduce is a guaranteed left-to-right fold
           list_reduce(list(c.k * l.lg ORDER BY c.tok),
                       (a, b) -> a + b) AS klg_sum
    FROM counts c LEFT JOIN logt l ON c.k = l.k
    GROUP BY c.doc_id
)
SELECT p.doc_id, p.n_tokens, p.n_distinct,
       l.lg - p.klg_sum / p.n_tokens AS entropy
FROM per p LEFT JOIN logt l ON p.n_tokens = l.k
"""


SQL_TEXT_ENTROPY = _text_entropy_oracle_sql


def q_text_ngramlm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM scoring of every document against the corpus-trained
    model (see operators.text_analysis.ngram_lm_score): per-doc bigram
    count, integer sum of per-bigram conditional probabilities in ppm,
    and their mean (the perplexity-proxy quality signal)."""
    from journal_batch_processer_spark.operators.text_analysis import (
        ngram_lm_score,
    )

    return ngram_lm_score(_docs(spark, sf_dir), "doc_id", "text")


SQL_TEXT_NGRAMLM = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
bi AS (
    SELECT doc_id,
           UNNEST(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bg
    FROM d
),
c2 AS (SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY bg),
c1 AS (
    SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c2) AS BIGINT) AS c1
    FROM c2 GROUP BY 1
),
model AS (
    SELECT c2.bg, (1000000 * c2.c2) // c1.c1 AS p_ppm
    FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w1
),
per AS (
    SELECT bi.doc_id, COUNT(*) AS n_bigrams, SUM(m.p_ppm) AS sum_ppm
    FROM bi JOIN model m USING (bg) GROUP BY bi.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.sum_ppm, 0) AS BIGINT) AS sum_ppm,
       CASE WHEN p.n_bigrams > 0
            THEN CAST(p.sum_ppm AS DOUBLE) / p.n_bigrams END AS mean_cond_ppm
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring spans (Lee et al. 2022 suffix-array
    dedup, distributed as rolling k-token window hashes + per-doc
    span merge — see operators.dedup.duplicated_substring_spans):
    every maximal >= 15-token region whose content occurs at least
    twice anywhere in the corpus, per doc with 0-based offsets."""
    from journal_batch_processer_spark.operators.dedup import (
        duplicated_substring_spans,
    )

    return duplicated_substring_spans(_docs(spark, sf_dir), "doc_id", "text", k=15)


SQL_DEDUP_SUBSTRING = """
WITH d AS (
    SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
wins AS (
    SELECT doc_id, UNNEST(range(0, len(t) - 14)) AS o, t
    FROM d WHERE len(t) >= 15
),
hashed AS (
    SELECT doc_id, o, md5(array_to_string(t[o + 1:o + 15], ' ')) AS h
    FROM wins
),
dup AS (
    SELECT doc_id, o FROM hashed
    WHERE h IN (SELECT h FROM hashed GROUP BY h HAVING COUNT(*) >= 2)
),
flagged AS (
    SELECT doc_id, o,
           CASE WHEN o > COALESCE(MAX(o + 15) OVER (
                    PARTITION BY doc_id ORDER BY o
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), -1) THEN 1 ELSE 0 END AS brk
    FROM dup
),
isl AS (
    SELECT doc_id, o,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY o) AS island
    FROM flagged
)
SELECT doc_id, MIN(o) AS span_start,
       CAST(MAX(o) + 15 - MIN(o) AS BIGINT) AS span_len,
       COUNT(*) AS n_dup_windows
FROM isl GROUP BY doc_id, island
"""


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-closed train/val/test split: documents are assigned by
    the hash of their NEAR-DUP CONNECTED COMPONENT (dedup_cluster's
    min-label fixpoint over exact-Jaccard >= 0.2 pairs), not their own
    id — so two near-duplicate documents can never straddle train and
    test. This is the decontamination-grade split a doc-level hash
    split (`hash_split`) cannot give: there, a paraphrase pair lands
    on both sides and leaks the test set into training. Composition:
    candidate pairs (bucketed shingle equi-join) → components
    (O(log n) min-label rounds) → one md5 threshold on the component
    id, all existing scale paths."""
    from journal_batch_processer_spark.operators.graph import cluster_assignments
    from journal_batch_processer_spark.operators.sampling import (
        split_thresholds,
    )

    docs = _docs_unspread(spark, sf_dir)
    pairs = ngram_jaccard_pairs_auto(
        docs, "doc_id", "text", n=3, threshold=0.2, max_shingle_df=20
    )
    t, v = split_thresholds(0.8, 0.1)
    b = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 2)
    return cluster_assignments(docs, "doc_id", pairs).select(
        "doc_id",
        "cluster_id",
        F.when(b < t, F.lit("train"))
        .when(b < v, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def _split_leakage_sql(cluster_sql: str) -> str:
    return f"""
WITH base AS ({cluster_sql})
SELECT doc_id, cluster_id,
       CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'cc'
                THEN 'train'
            WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'val'
            ELSE 'test' END AS split
FROM base
"""


SQL_SPLIT_LEAKAGE_SAFE = _split_leakage_sql(SQL_DEDUP_CLUSTER)
SQL_SPLIT_LEAKAGE_SAFE_CC = _split_leakage_sql(SQL_DEDUP_CLUSTER_CC)

# tools/check_oracle.py sweep accelerator: materialize each listed
# temp table ONCE per connection, then run the dependent keys' `_CC`
# oracle variants against it. Equivalence with the driver-facing
# self-contained strings is by construction (same fixpoint text,
# referenced instead of inlined) and pinned by a registry smoke test.
# Scale-sweep variant of SQL_DEDUP_EDITDIST: the brute O(n²) spec
# above is the driver-facing semantic definition (fine at sf0.01 =
# 5000 docs) but unrunnable at 100× (4e9 same-lang candidate pairs).
# This is the same pigeonhole blocking q_dedup_editdist uses —
# identical result multiset, pinned by test_registry_smoke.py::
# test_oracle_precompute_variants_match_selfcontained.
SQL_EDITDIST_PIGEONHOLE = """
WITH d AS (
    SELECT doc_id, lang, substr(text, 1, 40) AS p, length(text) AS n
    FROM documents
),
longd AS (SELECT * FROM d WHERE n >= 40),
chunks AS (
    SELECT doc_id, lang, p, n, i,
           substr(p, 8 * i + 1, 8) AS ch,
           -- n // 8, NOT CAST(n/8 AS INT): DuckDB's double->int cast
           -- rounds HALF-TO-EVEN, so n=452 -> 56 but n_b=460 -> 58
           -- (both land on .5 with opposite parities) - a band gap
           -- of 2 that escapes the +-1 explode and silently dropped
           -- 360 dist-0 pairs at 100x. Floor division matches
           -- Spark's cast truncation for the positive lengths here.
           n // 8 + db AS bk
    FROM longd,
         UNNEST([0, 1, 2, 3, 4]) AS ti(i),
         UNNEST([-1, 0, 1]) AS tb(db)
),
wins AS (
    SELECT doc_id AS doc_b, lang, p AS p_b, n AS n_b, i,
           substr(p, 8 * i + 1 + dl, 8) AS ch,
           n // 8 AS bk
    FROM longd,
         UNNEST([0, 1, 2, 3, 4]) AS ti(i),
         UNNEST([-4, -3, -2, -1, 0, 1, 2, 3, 4]) AS tw(dl)
    WHERE 8 * i + 1 + dl >= 1 AND 8 * i + 8 + dl <= 40
),
cand AS (
    -- dedupe on the id pair ALONE (16 bytes/row through the 1.5e8-row
    -- distinct), then join the two 40-char prefixes back: carrying
    -- them through the distinct made the hash table ~10× wider
    SELECT DISTINCT c.doc_id, w.doc_b
    FROM chunks c JOIN wins w
      ON c.i = w.i AND c.ch = w.ch AND c.lang = w.lang AND c.bk = w.bk
    WHERE c.doc_id < w.doc_b AND abs(c.n - w.n_b) <= 8
),
shortd AS (SELECT * FROM d WHERE n < 48)
SELECT cand.doc_id AS doc_a, cand.doc_b,
       CAST(levenshtein(da.p, db.p) AS INT) AS dist
FROM cand
JOIN d da ON da.doc_id = cand.doc_id
JOIN d db ON db.doc_id = cand.doc_b
WHERE levenshtein(da.p, db.p) <= 4
UNION
SELECT a.doc_id, b.doc_id, CAST(levenshtein(a.p, b.p) AS INT)
FROM shortd a JOIN shortd b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(a.n - b.n) <= 8
WHERE levenshtein(a.p, b.p) <= 4
"""


def _ngram_precompute_stmts(n_slices: int = 16) -> list[str]:
    """Staged build of the two prefix-ngram candidate tables for the
    100× sweep (check_oracle ORACLE_PRECOMPUTE "stmts" form).

    Why staged: the single-statement oracles feed 1.3–1.7e9 candidate
    rows (measured at the ×100 corpus) into one DISTINCT sink, and
    DuckDB 1.0's out-of-core grouped distinct materializes ~the whole
    duplicated input across RAM + temp spill (~130 GB observed — disk
    exhaustion, twice; a sliced UNION ALL stacks its child sinks
    concurrently and fails the same way). Splitting the distinct into
    ``a.doc % n_slices`` INSERTs runs one bounded pipeline per
    statement; slices are disjoint in doc_a, so per-slice DISTINCT ==
    global DISTINCT. The driver still receives the self-contained
    SQL_DEDUP_NGRAM_T50 / _CAPPED strings (equivalence pinned in
    tests/test_round12_fixes.py).
    """
    filters = (
        "  AND b.sz >= 0.5 * a.sz - 1e-9\n"
        "  AND a.sz >= 0.5 * b.sz - 1e-9"
    )
    stmts = [
        # packed pair key below is a.doc*1e9+b.doc — fail loudly if a
        # future corpus ever violates 0 <= doc_id < 1e9 instead of
        # silently corrupting every unpacked (doc_a, doc_b)
        """SELECT CASE WHEN max(doc_id) >= 1000000000 OR min(doc_id) < 0
       THEN error('doc_id outside [0, 1e9): pair packing unsafe')
       ELSE 'ok' END FROM documents""",
        """CREATE TEMP TABLE _ng_sh AS
SELECT doc_id,
       list_distinct(CASE WHEN len(t) >= 3
           THEN list_transform(range(1, len(t) - 1),
                               i -> array_to_string(t[i:i+2], ' '))
           ELSE [] END) AS shingles
FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)""",
        """CREATE TEMP TABLE _ng_ann AS
WITH flat AS (SELECT doc_id AS doc, UNNEST(shingles) AS shingle FROM _ng_sh),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM flat GROUP BY 1)
SELECT doc, shingle,
       ROW_NUMBER() OVER (PARTITION BY doc ORDER BY d.df, shingle) AS rnk,
       COUNT(*) OVER (PARTITION BY doc) AS sz
FROM flat JOIN dfreq d USING (shingle)""",
        """CREATE TEMP TABLE _ng_pref_t50 AS
SELECT doc, shingle, rnk, sz FROM _ng_ann
WHERE rnk <= sz - CEIL(0.5 * sz - 1e-9) + 1""",
        # capped: _ng_ann.rnk IS the (df, shingle) rank the cap uses,
        # so capped size = LEAST(sz, 40) and the capped prefix is a
        # plain filter over the same annotation
        """CREATE TEMP TABLE _ng_pref_cap AS
SELECT doc, shingle, rnk, LEAST(sz, 40) AS sz FROM _ng_ann
WHERE rnk <= 40
  AND rnk <= LEAST(sz, 40) - CEIL(0.5 * LEAST(sz, 40) - 1e-9) + 1""",
        """CREATE TEMP TABLE _ng_clist AS
SELECT doc, list(shingle) AS s FROM _ng_ann WHERE rnk <= 40 GROUP BY doc""",
        "DROP TABLE _ng_ann",
        "CREATE TEMP TABLE _ng_cand_t50 (pk BIGINT)",
        "CREATE TEMP TABLE _ng_cand_cap (pk BIGINT)",
    ]
    for tbl, pref in (("_ng_cand_t50", "_ng_pref_t50"),
                      ("_ng_cand_cap", "_ng_pref_cap")):
        for k in range(n_slices):
            stmts.append(
                f"""INSERT INTO {tbl}
SELECT pk FROM (
    SELECT a.doc * 1000000000 + b.doc AS pk, COUNT(*) AS cnt,
           MIN(a.rnk) AS mra, MIN(b.rnk) AS mrb,
           any_value(a.sz) AS sza, any_value(b.sz) AS szb
    FROM {pref} a JOIN {pref} b USING (shingle)
    WHERE a.doc % {n_slices} = {k} AND a.doc < b.doc
{filters}
    GROUP BY 1)
WHERE 1 + LEAST(sza - mra, szb - mrb) >= CEIL((sza + szb) / 3.0 - 1e-9)
  AND cnt >= CEIL((sza + szb) / 3.0 - 1e-9)
           - GREATEST(CEIL(0.5 * sza + 1e-9), CEIL(0.5 * szb + 1e-9)) + 1"""
            )
    return stmts


SQL_DEDUP_NGRAM_T50_PRE = """
WITH cpair AS (
    SELECT pk // 1000000000 AS doc_a, pk % 1000000000 AS doc_b
    FROM _ng_cand_t50
),
scored AS (
    SELECT doc_a, doc_b,
           len(list_intersect(sa.shingles, sb.shingles)) AS inter,
           len(sa.shingles) AS sz_a, len(sb.shingles) AS sz_b
    FROM cpair
    JOIN _ng_sh sa ON sa.doc_id = doc_a
    JOIN _ng_sh sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, inter, sz_a, sz_b,
       ROUND(inter / (sz_a + sz_b - inter), 6) AS jaccard
FROM scored
WHERE inter / (sz_a + sz_b - inter) >= 0.5
"""


# dedup_near's exact reference is the SAME j>=0.5 trigram-shingle
# sweep as dedup_ngram_prefix (the LSH banding only prunes candidates;
# verify recomputes exact Jaccard) — so its 100x-feasible oracle is a
# projection of the T50 prefix pipeline. Equality to the naive
# SQL_DEDUP_NEAR string is pinned in tests/test_registry_smoke.py.
SQL_DEDUP_NEAR_PRE = """
WITH cpair AS (
    SELECT pk // 1000000000 AS doc_a, pk % 1000000000 AS doc_b
    FROM _ng_cand_t50
),
scored AS (
    SELECT doc_a, doc_b,
           len(list_intersect(sa.shingles, sb.shingles)) AS inter,
           len(sa.shingles) AS sz_a, len(sb.shingles) AS sz_b
    FROM cpair
    JOIN _ng_sh sa ON sa.doc_id = doc_a
    JOIN _ng_sh sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b,
       ROUND(inter / (sz_a + sz_b - inter), 6) AS jaccard
FROM scored
WHERE inter / (sz_a + sz_b - inter) >= 0.5
"""


SQL_DEDUP_NGRAM_CAPPED_PRE = """
WITH cpair AS (
    SELECT pk // 1000000000 AS doc_a, pk % 1000000000 AS doc_b
    FROM _ng_cand_cap
),
scored AS (
    SELECT doc_a, doc_b,
           len(list_intersect(sa.s, sb.s)) AS inter,
           len(sa.s) AS sz_a, len(sb.s) AS sz_b
    FROM cpair
    JOIN _ng_clist sa ON sa.doc = doc_a
    JOIN _ng_clist sb ON sb.doc = doc_b
)
SELECT doc_a, doc_b, inter, sz_a, sz_b,
       ROUND(inter / (sz_a + sz_b - inter), 6) AS jaccard
FROM scored
WHERE inter / (sz_a + sz_b - inter) >= 0.5
"""


ORACLE_PRECOMPUTE = {
    "_cc_fixpoint": {
        "sql": SQL_CC_FIXPOINT,
        "keys": {
            "dedup_cluster": SQL_DEDUP_CLUSTER_CC,
            "split_leakage_safe": SQL_SPLIT_LEAKAGE_SAFE_CC,
        },
    },
    "_edp_pairs": {
        "sql": SQL_EDITDIST_PIGEONHOLE,
        "keys": {
            "dedup_editdist": "SELECT doc_a, doc_b, dist FROM _edp_pairs",
        },
    },
    "_ng_cand_t50": {
        "stmts": _ngram_precompute_stmts(),
        "keys": {
            "dedup_ngram_prefix": SQL_DEDUP_NGRAM_T50_PRE,
            "dedup_ngram_capped": SQL_DEDUP_NGRAM_CAPPED_PRE,
            "dedup_near": SQL_DEDUP_NEAR_PRE,
        },
    },
}


# Curated-positive training label shared by the two supervised
# curation keys below: sources src1-src3 stand in for the "known
# high quality" corpus (GPT-3's WebText positives / DSIR's target
# distribution); everything else is the raw pool.
CURATED_SOURCES = ("src1", "src2", "src3")


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GPT-3 / CCNet quality-filter shape: train a linear
    classifier (curated sources positive, rest negative) and score
    every document — see operators.classifier.quality_classifier for
    the exact integer-ppm model. High mean contrast → the doc's
    vocabulary looks like the curated subset."""
    from journal_batch_processer_spark.operators.classifier import (
        quality_classifier,
    )

    docs = _docs(spark, sf_dir).withColumn(
        "__pos", F.col("source").isin(*CURATED_SOURCES)
    )
    return quality_classifier(docs, "doc_id", "text")


SQL_QUALITY_CLASSIFIER = """
WITH lab AS (
    SELECT doc_id, (source IN ('src1', 'src2', 'src3')) AS pos
    FROM documents
),
tok0 AS (
    SELECT d.doc_id, UNNEST(string_split(d.text, ' ')) AS tok, l.pos
    FROM documents d JOIN lab l USING (doc_id)
),
tk AS (SELECT * FROM tok0 WHERE tok <> ''),
model AS (
    SELECT tok,
           SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS c_pos,
           SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS c_neg
    FROM tk GROUP BY tok
),
tot AS (
    SELECT SUM(c_pos) AS n_pos, SUM(c_neg) AS n_neg, COUNT(*) AS v
    FROM model
),
wt AS (
    SELECT tok,
           (1000000 * (c_pos + 1)) // (t.n_pos + t.v)
               - (1000000 * (c_neg + 1)) // (t.n_neg + t.v) AS w_ppm
    FROM model, tot t
),
sc AS (
    SELECT tk.doc_id, COUNT(*) AS n_tokens, SUM(w.w_ppm) AS sum_ppm
    FROM tk JOIN wt w USING (tok) GROUP BY tk.doc_id
)
SELECT l.doc_id, l.pos AS label,
       CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(s.sum_ppm, 0) AS BIGINT) AS sum_contrast_ppm,
       CASE WHEN s.n_tokens > 0
            THEN CAST(s.sum_ppm AS DOUBLE) / s.n_tokens
       END AS mean_contrast_ppm,
       CASE WHEN s.n_tokens > 0 THEN s.sum_ppm >= 0 END AS pred_pos
FROM lab l LEFT JOIN sc s USING (doc_id)
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (Xie et al. 2023): hashed-bigram
    bucket distributions for the curated target vs the raw pool,
    per-doc importance weight, deterministic top-k — see
    operators.classifier.dsir_select."""
    from journal_batch_processer_spark.operators.classifier import dsir_select

    docs = _docs(spark, sf_dir).withColumn(
        "__target", F.col("source").isin(*CURATED_SOURCES)
    )
    return dsir_select(docs, "doc_id", "text")


SQL_DSIR_SELECT = """
WITH d AS (
    SELECT doc_id, (source IN ('src1', 'src2', 'src3')) AS tgt,
           string_split(text, ' ') AS t
    FROM documents
),
bi AS (
    SELECT doc_id, tgt,
           UNNEST(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1])) AS bg
    FROM d
),
f AS (
    SELECT doc_id, tgt,
           ('0x' || substr(md5(bg), 1, 3))::BIGINT AS bucket
    FROM bi
),
dist AS (
    SELECT bucket,
           SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_t,
           COUNT(*) AS c_r
    FROM f GROUP BY bucket
),
tot AS (SELECT SUM(c_t) AS n_t, SUM(c_r) AS n_r FROM dist),
wt AS (
    SELECT bucket,
           (1000000 * (c_t + 1)) // (t.n_t + 4096)
               - (1000000 * (c_r + 1)) // (t.n_r + 4096) AS w_ppm
    FROM dist, tot t
),
sc AS (
    SELECT f.doc_id, COUNT(*) AS n_feats, SUM(w.w_ppm) AS weight_ppm
    FROM f JOIN wt w USING (bucket) GROUP BY f.doc_id
)
SELECT doc_id,
       CAST(n_feats AS BIGINT) AS n_feats,
       CAST(weight_ppm AS BIGINT) AS weight_ppm,
       CAST(ROW_NUMBER() OVER (ORDER BY weight_ppm DESC, doc_id) AS INT)
           AS rank
FROM sc
QUALIFY rank <= 200
"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the near-dup graph (exact-Jaccard
    pairs >= 0.2, the dedup_cluster edge set): clique-density — a
    template-spam cluster is triangle-dense, a chain of borderline
    matches is triangle-free. Degree-oriented wedge counting; see
    operators.graph.triangle_counts for the scale argument."""
    from journal_batch_processer_spark.operators.graph import triangle_counts

    docs = _docs_unspread(spark, sf_dir)
    pairs = ngram_jaccard_pairs_auto(
        docs, "doc_id", "text", n=3, threshold=0.2, max_shingle_df=20
    )
    return triangle_counts(pairs)


SQL_GRAPH_TRIANGLES = f"""
WITH pairs AS ({SQL_DEDUP_NGRAM}),
strong AS MATERIALIZED (
    SELECT doc_a, doc_b FROM pairs
    WHERE inter / (sz_a + sz_b - inter) >= 0.2
),
deg AS MATERIALIZED (
    SELECT n, COUNT(*) * 1000000000000 + n AS k FROM (
        SELECT doc_a AS n FROM strong
        UNION ALL SELECT doc_b FROM strong
    ) GROUP BY n
),
o AS MATERIALIZED (
    SELECT CASE WHEN ka.k < kb.k THEN s.doc_a ELSE s.doc_b END AS src,
           CASE WHEN ka.k < kb.k THEN s.doc_b ELSE s.doc_a END AS dst,
           CASE WHEN ka.k < kb.k THEN kb.k ELSE ka.k END AS dstk
    FROM strong s
    JOIN deg ka ON ka.n = s.doc_a
    JOIN deg kb ON kb.n = s.doc_b
),
w AS (
    SELECT o1.src AS u, o1.dst AS v1, o2.dst AS v2
    FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dstk < o2.dstk
),
tri AS (
    SELECT w.u, w.v1, w.v2
    FROM w JOIN o ON o.src = w.v1 AND o.dst = w.v2
)
SELECT CAST(n AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
    SELECT u AS n FROM tri
    UNION ALL SELECT v1 FROM tri
    UNION ALL SELECT v2 FROM tri
) GROUP BY n
"""


def q_text_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-watermark detection (Kirchenbauer et al. 2023,
    arXiv:2301.10226) — the contamination screen a pretraining corpus
    runs to keep synthetic model output from feeding back into
    training data. The detector recomputes the green list per
    position: token i is GREEN iff md5(prev_token || '|' || token)
    starts below '8' (γ = 1/2 of the hash space, the paper's
    hash-of-previous-token seeding made portable); per doc it reports
    the green count and the one-proportion z-score
    ``(2·g − n) / sqrt(n)`` (mean n/2, sd sqrt(n)/2 under H0), and
    flags z ≥ 4 (the paper's detection threshold). IEEE sqrt and one
    division are correctly-rounded in both engines, so even the
    z-scores hash-match.

    Scale shape: ENTIRELY per-row expressions — no shuffle, no joins,
    whole-stage codegen; the 100 TB screen is a narrow map over the
    corpus."""
    docs = _docs(spark, sf_dir)
    t = F.split(F.col("text"), " ")
    n = F.size(t)
    greens = F.when(
        n >= 2,
        F.size(
            F.filter(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.md5(
                    F.concat_ws(
                        "|", F.element_at(t, i), F.element_at(t, i + 1)
                    )
                )
                < "8",
            )
        ),
    ).otherwise(F.lit(0))
    n_scored = F.greatest(n - 1, F.lit(0))
    z = F.when(
        n_scored > 0,
        (2 * greens.cast("double") - n_scored) / F.sqrt(n_scored),
    )
    return docs.select(
        "doc_id",
        n_scored.cast("long").alias("n_scored"),
        greens.cast("long").alias("n_green"),
        z.alias("z_score"),
        F.when(n_scored > 0, z >= 4.0).alias("watermarked"),
    )


SQL_TEXT_WATERMARK = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
s AS (
    SELECT doc_id,
           GREATEST(len(t) - 1, 0) AS n_scored,
           CASE WHEN len(t) >= 2 THEN len(list_filter(
                    range(1, len(t)),
                    i -> md5(t[i] || '|' || t[i + 1]) < '8'))
                ELSE 0 END AS n_green
    FROM d
)
SELECT doc_id,
       CAST(n_scored AS BIGINT) AS n_scored,
       CAST(n_green AS BIGINT) AS n_green,
       CASE WHEN n_scored > 0
            THEN (2 * CAST(n_green AS DOUBLE) - n_scored) / sqrt(n_scored)
       END AS z_score,
       CASE WHEN n_scored > 0
            THEN ((2 * CAST(n_green AS DOUBLE) - n_scored)
                  / sqrt(n_scored)) >= 4.0e0
       END AS watermarked
FROM s
"""


def q_sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — recall@5 of the multi-probe LSH path
    against the brute-force ground truth, per query: the measurement
    every ANN deployment runs before trusting the fast path. Both
    sides are the already-oracled queries; this key pins their
    INTERACTION (a silent candidate-set regression in the LSH path
    shows up here as a recall drop even while its own ranked output
    stays internally consistent)."""
    bf = q_sim_search(spark, sf_dir).select("query_id", "neighbor_id")
    ann = q_sim_search_ann(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(ann, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
        )
        .select(
            "query_id",
            F.col("k").cast("long").alias("k"),
            F.col("n_hit").cast("long").alias("n_hit"),
            (F.col("n_hit").cast("double") / F.col("k")).alias("recall"),
        )
    )


def _sim_recall_oracle() -> str:
    return f"""
WITH bf AS ({SQL_SIM_SEARCH}),
ann AS ({SQL_SIM_SEARCH_ANN})
SELECT bf.query_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS recall
FROM bf LEFT JOIN ann a
    ON a.query_id = bf.query_id AND a.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
"""


def q_trainprep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-shard CAPSTONE — the manifest a tokenizer shard
    actually consumes, end to end under ONE oracle: near-dup-closed
    split (component hash, so no paraphrase leaks across splits) →
    Gopher quality gate on the TRAIN side → concat-and-chunk packing
    into 256-token sequences per source. Composes three independently-
    oracled stages (split_leakage_safe, quality_gate, seq_pack); this
    key pins their INTERACTION: packing offsets are computed over the
    post-gate survivor set, so a wrong gate or a leaked doc shifts
    every downstream (bin_id, seg_start) after it — the whole manifest
    is one big checksum of the pipeline."""
    from journal_batch_processer_spark.operators.graph import cluster_assignments
    from journal_batch_processer_spark.operators.text_analysis import (
        quality_gate,
    )
    from journal_batch_processer_spark.queries.trainprep import PACK_CAP

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs_auto(
        docs, "doc_id", "text", n=3, threshold=0.2, max_shingle_df=20
    )
    b = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 2)
    train_ids = (
        cluster_assignments(docs, "doc_id", pairs)
        .filter(b < "cc")
        .select("doc_id")
    )
    gated = (
        quality_gate(docs.join(train_ids, "doc_id"), "doc_id", "text",
                     append=True)
        .filter("keep")
        .select("source", "doc_id", "n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = gated.select(
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
                F.expr(f"start div {PACK_CAP}"),
                F.expr(f"(end - 1) div {PACK_CAP}"),
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


def _trainprep_pipeline_sql() -> str:
    from journal_batch_processer_spark.queries.trainprep import PACK_CAP

    return f"""
WITH base AS ({SQL_DEDUP_CLUSTER}),
train AS (
    SELECT doc_id FROM base
    WHERE substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'cc'
),
g AS (
    SELECT d.doc_id, d.source, d.text,
           len(string_split(d.text, ' ')) AS n,
           length(d.text) AS nc,
           len(list_filter(string_split(d.text, ' '),
                           x -> x IN {_STOP_SQL})) AS stop,
           length(regexp_replace(d.text, '[A-Za-z0-9 ]', '', 'g')) AS sym
    FROM documents d JOIN train USING (doc_id)
),
kept AS (
    SELECT doc_id, source, n AS n_tokens FROM g
    WHERE n >= 50 AND n <= 100000
      AND (nc - (n - 1)) / n >= 3.0 AND (nc - (n - 1)) / n <= 10.0
      AND stop / n >= 0.02 AND sym / nc <= 0.1
),
spans AS (
    SELECT source, doc_id, n_tokens,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS start
    FROM kept
),
bins AS (
    SELECT source, doc_id, start, start + n_tokens AS "end",
           UNNEST(generate_series(
               CAST(start // {PACK_CAP} AS BIGINT),
               CAST((start + n_tokens - 1) // {PACK_CAP} AS BIGINT)
           )) AS bin_id
    FROM spans
)
SELECT source, bin_id, doc_id,
       CAST(GREATEST(start, bin_id * {PACK_CAP}) - start AS BIGINT)
           AS seg_start,
       CAST(LEAST("end", (bin_id + 1) * {PACK_CAP})
            - GREATEST(start, bin_id * {PACK_CAP}) AS BIGINT) AS seg_len
FROM bins
"""


SQL_TRAINPREP_PIPELINE = _trainprep_pipeline_sql


def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup (web-corpus staple): the same page
    arrives under 4 synthesized variants per doc (scheme change,
    upper-case WWW host + trailing slash, utm_* tracking params,
    fragment + mixed params) and the canonicalizer must collapse them.
    The oracle never parses URLs — it derives the expected canonical
    key directly from the doc_id arithmetic, so the whole expression
    pipeline (scheme/fragment/host/utm/slash rules) is independently
    value-checked."""
    from journal_batch_processer_spark.operators.text_analysis import url_dedup

    docs = _docs(spark, sf_dir).select("doc_id")
    k = (F.col("doc_id") % 7).cast("string")
    m = (F.col("doc_id") % 50).cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(F.lit("https://example"), k, F.lit(".com/page/"), m))
        .when(
            v == 1,
            F.concat(
                F.lit("http://WWW.EXAMPLE"), k, F.lit(".COM/page/"), m, F.lit("/")
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://www.example"), k, F.lit(".com/page/"), m,
                F.lit("?utm_source=feed&utm_campaign=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example"), k, F.lit(".com/page/"), m,
                F.lit("?id="), m, F.lit("&utm_medium=email#frag"),
            )
        )
    )
    return url_dedup(docs.withColumn("url", url), "doc_id", "url")


SQL_DEDUP_URL = """
WITH d AS (
    SELECT doc_id, doc_id % 7 AS k, doc_id % 50 AS m, doc_id % 4 AS v
    FROM documents
),
canon AS (
    SELECT doc_id,
           CASE WHEN v = 3
                THEN 'example' || k || '.com/page/' || m || '?id=' || m
                ELSE 'example' || k || '.com/page/' || m
           END AS canonical
    FROM d
)
SELECT canonical, MIN(doc_id) AS first_id, COUNT(*) AS n_dupes
FROM canon GROUP BY 1
"""


def q_pandas_udf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two remaining Arrow UDF shapes, value-checked: a SCALAR
    pandas_udf (vectorized utf-8 byte length per row) and a
    GROUPED_AGG pandas_udf (geometric mean per language — a custom
    aggregator Spark lacks natively). Both are SQL-expressible
    (octet_length / EXP(AVG(LN)) — the oracle), so the Arrow batch
    transfer and aggregation paths are verified; production bodies
    hold tokenizer or model logic. These are the 10-100× path over
    row-at-a-time Python UDFs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NOTE: real (non-string) annotations are required for pandas_udf
    # to infer the UDF kind, and `from __future__ import annotations`
    # stringifies any inline hints in this module — so the hints are
    # attached explicitly.
    def _utf8_bytes(s):
        return s.str.encode("utf-8").str.len().astype("int64")

    _utf8_bytes.__annotations__ = {"s": pd.Series, "return": pd.Series}
    utf8_bytes = pandas_udf(_utf8_bytes, "long")

    def _geo_mean(v):
        return float(np.exp(np.log(v.astype("float64")).mean()))

    _geo_mean.__annotations__ = {"v": pd.Series, "return": float}
    geo_mean = pandas_udf(_geo_mean, "double")

    docs = _docs(spark, sf_dir).withColumn("text_bytes", utf8_bytes("text"))
    # a GROUPED_AGG pandas UDF cannot share an agg() with built-in
    # aggregates — two aggregations over the same grouping, joined
    # (both shuffle on lang; AQE broadcasts the 5-row geo side)
    base = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("text_bytes").alias("total_text_bytes"),
    )
    geo = docs.groupBy("lang").agg(
        F.round(geo_mean("n_chars"), 6).alias("geo_mean_chars")
    )
    return base.join(geo, "lang")


SQL_PANDAS_UDF_STATS = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_text_bytes,
       ROUND(EXP(AVG(LN(n_chars))), 6) AS geo_mean_chars
FROM documents GROUP BY lang
"""


def q_udtf_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (table function: one doc row → N paragraph
    rows) driven through SQL LATERAL — the user-defined-table-function
    API a text-chunking stage would use. The chunking rule itself is
    trivially SQL-expressible (the oracle zips unnest with its index),
    so the UDTF execution path is value-checked; production chunkers
    put tokenizer-aware logic in eval(). Arrow-optimized UDTFs
    (useArrow) are the batch-transfer variant at scale."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="para_idx int, para string")
    class SplitParas:
        def eval(self, text: str):
            if text is None:
                return
            for i, p in enumerate(text.split(". ")):
                yield i, p

    spark.udtf.register("jbp_split_paras", SplitParas)
    _docs(spark, sf_dir).createOrReplaceTempView("jbp_docs_udtf")
    return spark.sql(
        "SELECT doc_id, s.para_idx, s.para "
        "FROM jbp_docs_udtf, LATERAL jbp_split_paras(text) s"
    )


SQL_UDTF_PARAGRAPHS = """
WITH t AS (SELECT doc_id, string_split(text, '. ') AS paras FROM documents)
SELECT doc_id,
       CAST(UNNEST(range(len(paras))) AS INT) AS para_idx,
       UNNEST(paras) AS para
FROM t
"""


def q_cogroup_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow cogroup surface: clicks and purchases cogrouped per user
    through ``groupBy().cogroup().applyInPandas`` — the two-sided
    custom-aggregation shape (each side arrives as its own pandas
    frame, partitioned by the same key). The aggregate itself is
    SQL-expressible (FULL JOIN of per-side counts — the oracle), so
    the Python path is value-checked; a real pipeline would put
    model-feature logic in the body. One shuffle per side.

    SELF-COGROUP GUARD: both sides derive from ONE scan, and Spark's
    plan deduplication then binds the Python function's right-side
    arguments to the LEFT side's expression ids — any downstream
    column-subset projection prunes the right child to its keys and
    the function receives a COLUMN-LESS right frame (observed on
    PySpark 4.1.2: collect() was correct while .select("spend")
    returned 0.0 for every row). Fresh aliases on the right side mint
    new expression ids, which blocks the bad rebinding; pinned by
    tests/test_registry_smoke.py::test_cogroup_survives_projection."""
    import pandas as pd

    events = load_events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("user_id"), F.col("value").alias("value")
    )

    def stats(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # a key present on only one side arrives with the other side's
        # frame EMPTY AND COLUMN-LESS — guard both sides or a user with
        # clicks but no purchases (guaranteed at real scale) crashes
        spend = (
            float(right["value"].sum())
            if "value" in right.columns and len(right)
            else 0.0
        )
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_clicks": [len(left)],
                "n_purchases": [len(right)],
                "spend": [round(spend, 6)],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            stats,
            "user_id long, n_clicks long, n_purchases long, spend double",
        )
    )


SQL_COGROUP_CONVERSION = """
WITH c AS (
    SELECT user_id, COUNT(*) AS n_clicks FROM events
    WHERE event_type = 'click' GROUP BY user_id),
p AS (
    SELECT user_id, COUNT(*) AS n_purchases, SUM(value) AS spend
    FROM events WHERE event_type = 'purchase' GROUP BY user_id)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       COALESCE(c.n_clicks, 0) AS n_clicks,
       COALESCE(p.n_purchases, 0) AS n_purchases,
       ROUND(COALESCE(p.spend, 0), 6) AS spend
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
"""


def q_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real multimodal ingest path: ``spark.read.format
    ("binaryFile")`` over a directory of opaque payload files →
    (name, size, content md5). Fixture payloads are the first 64
    docs' text bytes, materialized once per sf tag (driver-side
    setup, not the measured operator); the oracle re-reads the same
    files with DuckDB's read_blob, so the byte-level scan fidelity is
    value-checked. At 100 TB this source partitions by file and
    prunes on path — the documented ingest shape for image/audio
    payloads (operators/multimodal.py)."""
    import os as _os

    d = _materialize_blobs(sf_dir)
    scan = spark.read.format("binaryFile").load(_os.path.join(d, "*.bin"))
    return scan.select(
        F.regexp_extract("path", r"[^/]+$", 0).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


SQL_BINARY_INGEST_TEMPLATE = """
SELECT regexp_extract(filename, '[^/]+$') AS fname,
       octet_length(content) AS n_bytes,
       md5(content::VARCHAR) AS content_md5
FROM read_blob('{tmp}/jbp_blobs_{tag}/*.bin')
"""


def _materialize_blobs(sf_dir: str) -> str:
    """Write the first 64 docs' text bytes as payload files (once per
    revision of documents.parquet) and return their dir. DuckDB-based so it needs no SparkSession — called both at
    import time for the oracle's sf0.01 dir (the driver may run the
    oracle BEFORE the Spark query) and from q_binary_ingest for
    whatever sf_dir it receives."""
    import os as _os

    d = fixture_root("blobs", sf_dir)
    src = _os.path.join(sf_dir, "documents.parquet")
    if not _os.path.exists(src):
        return d

    def build() -> None:
        import duckdb as _duck

        _os.makedirs(d)
        rows = _duck.sql(
            f"SELECT doc_id, text FROM read_parquet('{src}') "
            "WHERE doc_id < 64 ORDER BY doc_id"
        ).fetchall()
        for doc_id, text in rows:
            with open(_os.path.join(d, f"doc_{doc_id:05d}.bin"), "wb") as f:
                f.write(text.encode("utf-8"))

    return fixture_dir(d, "blobs", [src], build)


def _binary_ingest_sql() -> str:
    """Lazy oracle builder (invoked at oracle-request time, not import):
    materializes the blob fixture for the oracle's sf_dir so
    oracle-before-query execution order cannot break it. The sf is
    env-overridable because the driver pins oracles to sf0.01 while
    local sweeps may target another dir."""
    import os as _os
    import tempfile as _tf

    sf_dir = oracle_sf_dir()
    tag = _os.path.basename(_os.path.normpath(sf_dir)) or "sf"
    _materialize_blobs(sf_dir)
    return SQL_BINARY_INGEST_TEMPLATE.format(tmp=_tf.gettempdir(), tag=tag)


def q_corpus_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact length quantiles per language (the doc-length P50/P90/P99
    dashboard): Spark's exact `percentile` (linear interpolation, same
    definition as DuckDB quantile_cont) so the ordered statistic is
    value-checked, not approximate. At 100 TB swap to
    percentile_approx and the oracle to a tolerance check — the exact
    form is the semantics contract."""
    docs = _docs(spark, sf_dir)
    qs = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.round(F.expr(f"percentile(n_chars, {p})"), 6).alias(name)
            for name, p in qs.items()
        ],
    )


SQL_CORPUS_QUANTILES = """
SELECT lang, COUNT(*) AS n_docs,
       ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
       ROUND(quantile_cont(n_chars, 0.9), 6) AS p90,
       ROUND(quantile_cont(n_chars, 0.99), 6) AS p99
FROM documents GROUP BY lang
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus rollup — the dashboard query a corpus
    sweep ends with: doc counts, token totals, mean doc length. One
    scan, one partial-aggregated shuffle; token counts derive from the
    text expression so no second pass over the corpus."""
    docs = _docs(spark, sf_dir)
    n_toks = F.size(F.split(F.col("text"), " "))
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_toks).alias("total_tokens"),
            F.round(
                F.sum(F.col("n_chars")) / F.count(F.lit(1)), 6
            ).alias("mean_chars"),
        )
    )


SQL_CORPUS_STATS = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       ROUND(SUM(n_chars) / COUNT(*), 6) AS mean_chars
FROM documents
GROUP BY 1, 2
"""


def q_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = attach_binary(_docs(spark, sf_dir), "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.content_md5").alias("content_md5"),
    )


SQL_MULTIMODAL_COLS = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       'text/plain' AS mime, md5(text) AS content_md5
FROM documents
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-stage plumbing: payload normalized to 64x48 raw bytes by
    the stub (crop-or-tile), verified via the refreshed metadata. The
    corpus text is ASCII, so the oracle replays the byte arithmetic on
    VARCHAR exactly."""
    from journal_batch_processer_spark.operators.multimodal import resize_payload

    out = resize_payload(
        attach_binary(_docs(spark, sf_dir), "doc_id", "text"), 64, 48
    )
    return out.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_md5").alias("content_md5"),
    )


SQL_MULTIMODAL_RESIZE = """
SELECT doc_id, 3072 AS n_bytes,
       md5(substr(repeat(text, CAST(ceil(3072.0 / length(text)) AS INT)), 1, 3072))
           AS content_md5
FROM documents
WHERE length(text) > 0
UNION ALL
SELECT doc_id, 3072, md5(repeat(chr(0), 3072)) FROM documents WHERE length(text) = 0
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: every 2nd 16-byte frame of each
    payload as its own row (1→many mapInPandas), content checked by
    per-frame md5."""
    from journal_batch_processer_spark.operators.multimodal import sample_frames

    out = sample_frames(
        attach_binary(_docs(spark, sf_dir), "doc_id", "text"),
        frame_bytes=16,
        every_n=2,
    )
    return out.select("doc_id", "frame_idx", F.md5("frame").alias("frame_md5"))


SQL_MULTIMODAL_FRAMES = """
SELECT doc_id, CAST(f AS INT) AS frame_idx,
       md5(substr(text, CAST(f AS INT) * 16 + 1, 16)) AS frame_md5
FROM documents, UNNEST(range(0, length(text) // 16, 2)) AS t(f)
"""


def q_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance (fuzzy) near-dup pairs: Levenshtein ≤ 4 over a
    40-char prefix; lang must match and |len diff| ≤ 8.

    Blocking is PIGEONHOLE (PassJoin-style partition signatures) —
    rewritten in r12 after the first 100× sweep exposed the r09
    version as quadratic: it equi-joined on the length band ALONE
    (lang and |Δn| ≤ 8 were post-join filters), and at the
    sf1-equivalent corpus 500k docs fall into just 68 bands =
    4.06e9 same-band ordered pairs (12e9 join rows after the 3-band
    explode); the key ran >30 min before being killed. The fix: with
    ≤ 4 edits over a 40-char prefix split into 5 chunks of 8, at
    least one chunk of `a` is untouched by any edit (del/sub each
    damage ≤ 1 chunk, insertions damage none), and its image in `b`
    is the IDENTICAL 8-gram displaced only by the net indels before
    it — at most ±4, and always fully inside b's 40-char prefix
    (else its tail chars would have been deleted, touching it). So
    candidates = equi-join of a's 5 aligned chunks against b's ≤ 37
    shifted 8-char windows on (chunk idx, 8-gram, lang, band):
    volume collapses from band-density² to true-near-dup density
    plus aligned 8-gram collisions (measured ≈ 5e7 per chunk index
    at 100×, vs 4e9). Docs shorter than 48 chars (ragged chunks —
    none exist at the shipped SFs) pair among themselves through the
    old band join: any pair with a side < 40 has BOTH sides < 48 by
    |Δn| ≤ 8, and the [40, 48) overlap is merged by the final
    distinct. Candidate pairs are deduplicated BEFORE the
    Levenshtein so each survivor is scored exactly once; the
    distance itself stays JVM-side (``F.levenshtein``).

    Oracle: SQL_DEDUP_EDITDIST stays the brute O(n²) semantic spec
    (the driver runs it at sf0.01); scale sweeps use the _edp_pairs
    ORACLE_PRECOMPUTE pigeonhole variant, pinned equivalent by
    tests/test_registry_smoke.py::
    test_oracle_precompute_variants_match_selfcontained.
    """
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.substring("text", 1, 40).alias("prefix"),
        F.length("text").alias("n"),
    )

    band = (F.col("n") / F.lit(8)).cast("int")
    longd = docs.filter(F.col("n") >= 40)
    idx = F.explode(F.array(*[F.lit(i) for i in range(5)])).alias("i")
    chunks = (
        longd.select("doc_id", "lang", "prefix", "n", idx)
        .select(
            "*",
            F.expr("substring(prefix, i * 8 + 1, 8)").alias("ch"),
            F.explode(F.array(band - 1, band, band + 1)).alias("bk"),
        )
    )
    wins = (
        longd.select(
            F.col("doc_id").alias("doc_b"),
            "lang",
            F.col("prefix").alias("prefix_b"),
            F.col("n").alias("n_b"),
            idx,
        )
        .select(
            "*",
            F.explode(
                F.array(*[F.lit(d) for d in range(-4, 5)])
            ).alias("dl"),
        )
        .filter("i * 8 + 1 + dl >= 1 AND i * 8 + 8 + dl <= 40")
        .select(
            "doc_b",
            "lang",
            "prefix_b",
            "n_b",
            "i",
            F.expr("substring(prefix_b, i * 8 + 1 + dl, 8)").alias("ch"),
            (F.col("n_b") / F.lit(8)).cast("int").alias("bk"),
        )
    )
    # shuffle_hash, NOT the optimizer's choice: both join inputs sit
    # behind explodes, and Spark's size estimate for an exploded
    # relation is the pre-explode scan size — at 100× it estimated
    # the 18.5M-row window side under the 64 MB broadcast threshold
    # and built a multi-GB broadcast hash table in the driver (GC
    # death). A shuffled hash join on the (i, ch, lang, bk) key is
    # the right plan at every scale and never builds a global table.
    cand = (
        chunks.hint("shuffle_hash").join(wins, ["i", "ch", "lang", "bk"])
        .filter(
            (F.col("doc_id") < F.col("doc_b"))
            & (F.abs(F.col("n") - F.col("n_b")) <= 8)
        )
        # dedupe on the id pair ALONE (16 bytes/row through the
        # ~1.5e8-row distinct at 100×), then join the 40-char
        # prefixes back from the scan-derived docs relation — whose
        # size Catalyst estimates correctly, unlike the exploded
        # sides above
        .select("doc_id", "doc_b")
        .dropDuplicates(["doc_id", "doc_b"])
    )
    pa = docs.select("doc_id", F.col("prefix").alias("pa"))
    pb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb")
    )
    long_pairs = (
        cand.join(pa, "doc_id")
        .join(pb, "doc_b")
        .select(
            "doc_id",
            "doc_b",
            F.levenshtein("pa", "pb").alias("dist"),
        )
        .filter(F.col("dist") <= 4)
    )

    short = docs.filter(F.col("n") < 48)
    short_b = short.select(
        *(F.col(c).alias(f"{c}_b") for c in short.columns)
    )
    short_pairs = (
        short.join(
            short_b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("doc_id") < F.col("doc_id_b"))
            & (F.abs(F.col("n") - F.col("n_b")) <= 8),
        )
        .select(
            "doc_id",
            F.col("doc_id_b").alias("doc_b"),
            F.levenshtein("prefix", "prefix_b").alias("dist"),
        )
        .filter(F.col("dist") <= 4)
    )

    pairs = long_pairs.unionByName(short_pairs).distinct()
    return pairs.select(
        F.col("doc_id").alias("doc_a"), "doc_b", "dist"
    )


SQL_DEDUP_EDITDIST = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS INT)
           AS dist
FROM documents a JOIN documents b
  ON a.lang = b.lang
 AND a.doc_id < b.doc_id
 AND abs(length(a.text) - length(b.text)) <= 8
WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 4
"""



def q_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outliers (|x − mean| > 1.65σ within
    return-flag group) — the expression-only anomaly-detection shape:
    one window over the group for the moments, one filter; no UDF, no
    collect. (TPC-H prices are uniform, max |z| ≈ √3 ≈ 1.73, so a
    classic 3σ cut returns nothing — 1.65σ keeps a real tail under
    the oracle.)"""
    li = _spread(spark, spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    from pyspark.sql import Window

    w = Window.partitionBy("l_returnflag")
    x = F.col("l_extendedprice")
    mu = F.avg(x).over(w)
    sd = F.stddev_samp(x).over(w)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            x.alias("price"),
            ((x - mu) / sd).alias("z"),
        )
        .filter(F.abs(F.col("z")) > 1.65)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "price",
            F.round("z", 6).alias("z"),
        )
    )


SQL_OUTLIER_ZSCORE = """
WITH s AS (
    SELECT l_orderkey, l_linenumber, l_returnflag,
           l_extendedprice AS price,
           (l_extendedprice - avg(l_extendedprice) OVER w)
               / stddev_samp(l_extendedprice) OVER w AS z
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag)
)
SELECT l_orderkey, l_linenumber, l_returnflag, price, ROUND(z, 6) AS z
FROM s WHERE abs(z) > 1.65
"""


def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation API (df.observe): pipeline metrics collected as
    accumulator-style side output DURING the main action — zero extra
    passes, the mechanism behind production row-count/quality gates
    (the reference prints its row counts from a separate pass;
    SURVEY §3). The observed metrics themselves are the query result
    here, value-checked against the same aggregates in SQL."""
    from pyspark.sql import Observation

    ev = load_events(spark, sf_dir)
    obs = Observation("jbp_metrics")
    dv = F.col("value").cast("decimal(18,6)")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dv).cast("double").alias("sum_value"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the action
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_value"], m["min_event_id"], m["max_event_id"])],
        "n_rows long, sum_value double, min_event_id long, max_event_id long",
    )


SQL_OBSERVE_METRICS = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM events
"""


def q_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the RecordBatch-level Python path — no pandas
    conversion at all, columns stay Arrow buffers end to end (the
    lowest-overhead Python hook; pandas_udf adds a pandas layer on
    top of this). Discounted price computed with pyarrow.compute
    (IEEE-identical to the SQL expression), then a decimal-exact
    aggregate; the whole Arrow round-trip is value-checked."""
    import pyarrow as pa

    li = _li_cols(spark, sf_dir)

    def fn(batches):
        import pyarrow.compute as pc

        for b in batches:
            price = b.column("l_extendedprice")
            disc = b.column("l_discount")
            dp = pc.multiply(price, pc.subtract(pa.scalar(1.0), disc))
            yield pa.RecordBatch.from_arrays(
                [b.column("l_returnflag"), dp], ["l_returnflag", "disc_price"]
            )

    out = li.mapInArrow(fn, "l_returnflag string, disc_price double")
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("disc_price").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_disc_price"),
    )


def _li_cols(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )


SQL_ARROW_MAP = """
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price
FROM lineitem GROUP BY 1
"""


def q_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF (user-defined TABLE function): the
    SQL-native row expander — registered once, then LATERAL-joined in
    plain SQL, the sanctioned shape for "one row in, N rows out"
    Python logic (chunkers, parsers, API unfolders) that previously
    needed explode(collect(udf)) contortions. Chunks each document
    into 40-char windows; every emitted cell (index, length, md5) is
    recomputed by the DuckDB oracle from substr arithmetic, so the
    whole UDTF execution path is value-checked. Runs distributed: the
    lateral join shows as a BatchEvalPythonUDTF operator over the
    scan, no driver collection."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_len int, chunk_md5 string")
    class ChunkUDTF:
        def eval(self, text: str):
            import hashlib

            if text is None:
                return
            for i in range(0, len(text), 40):
                c = text[i : i + 40]
                yield i // 40, len(c), hashlib.md5(c.encode()).hexdigest()

    spark.udtf.register("jbp_chunk_udtf", ChunkUDTF)
    _docs(spark, sf_dir).select("doc_id", "text").createOrReplaceTempView(
        "jbp_udtf_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_len, c.chunk_md5
        FROM jbp_udtf_docs d, LATERAL jbp_chunk_udtf(d.text) c
        """
    )


SQL_PYTHON_UDTF = """
WITH n AS (
    SELECT doc_id, text, CAST((length(text) + 39) // 40 AS BIGINT) AS nc
    FROM documents WHERE length(text) > 0
),
e AS (
    SELECT doc_id, text,
           UNNEST(generate_series(0, nc - 1)) AS chunk_idx
    FROM n
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(length(substr(text, CAST(chunk_idx * 40 + 1 AS INT), 40)) AS INT)
           AS chunk_len,
       md5(substr(text, CAST(chunk_idx * 40 + 1 AS INT), 40)) AS chunk_md5
FROM e
"""


def q_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas API on Spark (pyspark.pandas): the DataFrame dialect
    pandas users write, compiling to the same Catalyst plans — a
    groupby-agg here runs as a hash aggregate, not driver pandas.
    Emitted metrics are exact (counts, integer key checksum, min/max)
    so the oracle hash-matches regardless of float summation order."""
    import pyspark.pandas as ps

    pdf = ps.read_parquet(f"{sf_dir}/orders.parquet")
    g = pdf.groupby("o_orderpriority").agg(
        n=("o_orderkey", "count"),
        key_checksum=("o_orderkey", "sum"),
        min_price=("o_totalprice", "min"),
        max_price=("o_totalprice", "max"),
    )
    return g.reset_index().to_spark()


SQL_PANDAS_API = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY 1
"""


def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: median absolute deviation per event
    type (the heavy-tail-safe alternative to outlier_zscore — one
    corrupted batch of extreme values shifts a z-score's mean/stddev
    but not the median). Flags |value − med| > 3·MAD.

    Exactness: both medians are the LOWER median — the value at rank
    (n+1) div 2 in (value, event_id) order — an ORDER STATISTIC, not
    an interpolated percentile, so no engine-specific interpolation
    arithmetic exists to disagree; every emitted double is an input
    value or a single IEEE subtraction, making the oracle hash-exact.

    Scale shape: two rank windows partitioned by event_type. Exact
    per-group medians need a per-group sort; with few huge groups the
    production variant is approx_percentile(0.5) (one partial-agg
    pass, no sort) with this exact path as its verification baseline —
    the same exact/approx pairing as corpus_quantiles."""
    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    med = ranked.filter(F.expr("rn = (n + 1) div 2")).select(
        "event_type", F.col("value").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    w2 = Window.partitionBy("event_type").orderBy("dev", "event_id")
    ranked2 = dev.withColumn("rn2", F.row_number().over(w2)).withColumn(
        "n2", F.count(F.lit(1)).over(wc)
    )
    mad = ranked2.filter(F.expr("rn2 = (n2 + 1) div 2")).select(
        "event_type", F.col("dev").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("dev") > 3 * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
    )


SQL_OUTLIER_MAD = """
WITH ranked AS (
    SELECT event_id, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
med AS (
    SELECT event_type, value AS med FROM ranked WHERE rn = (n + 1) // 2
),
dev AS (
    SELECT e.event_id, e.event_type, e.value, m.med,
           ABS(e.value - m.med) AS dev
    FROM events e JOIN med m USING (event_type)
),
r2 AS (
    SELECT event_type, dev,
           ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY dev, event_id) AS rn2,
           COUNT(*) OVER (PARTITION BY event_type) AS n2
    FROM dev
),
mad AS (
    SELECT event_type, dev AS mad FROM r2 WHERE rn2 = (n2 + 1) // 2
)
SELECT d.event_id, d.event_type, d.value, d.med, m2.mad
FROM dev d JOIN mad m2 USING (event_type)
WHERE d.dev > 3 * m2.mad
"""


def q_sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search with exact re-rank (the
    FAISS-style two-stage layout): 16×16 codebooks encode each 64-dim
    vector to 16 bytes (16× smaller than float32 — the compression
    that makes a 100 TB corpus's codes memory-resident), ADC scans the
    codes for a 50-deep shortlist, and raw vectors are fetched for the
    SHORTLIST ONLY to re-rank the exact top-5 (recall@5 ≈ 0.88 vs
    brute force on this corpus, asserted in tests). Codebooks are
    trained deterministically (operators.similarity.train_pq_codebooks
    — portable md5 sample, fixed Lloyd rounds), so bit-identical
    literals inline into both the Spark plan and the DuckDB oracle:
    encoding, distance tables, shortlist, and re-ranked cosines are
    value-checked end-to-end at full precision."""
    import os as _os

    from journal_batch_processer_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks,
    )

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    pq_path = _os.path.join(sf_dir, "embeddings.parquet")
    books = train_pq_codebooks(pq_path, m=16, ksub=16)
    # exact corpus size from the parquet footers (no job) gates the
    # refine-fetch shape — see similarity.PQ_FULL_NORM_MAX_ROWS
    return pq_topk(
        embs, queries, books, dim=EMB_DIM, k=5, refine=50,
        n_rows=parquet_row_count(pq_path),
    )


def _pq_sql_parts(
    books: list[list[list[float]]], dsub: int
) -> tuple[str, str, str, str]:
    """Shared SQL fragments for the PQ oracles (sim_search_pq and
    sim_search_ivfpq): per-subspace distance arrays over codebook
    literals (e-notation — DuckDB parses those directly as correctly-
    rounded doubles, the DECIMAL-literal ulp trap from NOTES_r05),
    argmin encode columns, the ADC lookup sum, and the unit-norm sum
    with the SAME unrolled fold order as Spark's norm_expr (list_sum
    would sum pairwise — the NOTES_r05 trap)."""
    m = len(books)

    def _lit(x: float) -> str:
        r = repr(x)
        return r if "e" in r or "E" in r else r + "e0"

    def dists_sql(book: list[list[float]], j: int) -> str:
        terms = []
        for cent in book:
            parts = [
                f"(v[{j * dsub + d + 1}] - {_lit(cent[d])})"
                f" * (v[{j * dsub + d + 1}] - {_lit(cent[d])})"
                for d in range(dsub)
            ]
            terms.append(" + ".join(parts))
        return "list_value(" + ", ".join(terms) + ")"

    dl_cols = ", ".join(
        f"{dists_sql(book, j)} AS dl_{j}" for j, book in enumerate(books)
    )
    enc_cols = ", ".join(
        f"CAST(list_indexof(dl_{j}, list_min(dl_{j})) - 1 AS INTEGER)"
        f" AS code_{j}"
        for j in range(m)
    )
    approx = " + ".join(f"q.dl_{j}[c.code_{j} + 1]" for j in range(m))
    nrm_sum = " + ".join(
        f"embedding[{i}]::DOUBLE * embedding[{i}]::DOUBLE"
        for i in range(1, EMB_DIM + 1)
    )
    return dl_cols, enc_cols, approx, nrm_sum


def _pq_oracle_sql(
    m: int = 16, ksub: int = 16, k: int = 5, refine: int = 50
) -> str:
    """LAZY DuckDB oracle for q_sim_search_pq: trains the SAME
    deterministic codebooks and inlines them as e-notation literals
    (DuckDB parses those directly as correctly-rounded doubles — the
    DECIMAL-literal ulp trap recorded in NOTES_r05). Every arithmetic
    step mirrors the Spark expressions' fold order exactly, so the
    compare is full-precision, no rounding."""
    import os as _os

    from journal_batch_processer_spark.operators.similarity import (
        train_pq_codebooks,
    )

    sf_dir = oracle_sf_dir()
    books = train_pq_codebooks(
        _os.path.join(sf_dir, "embeddings.parquet"), m=m, ksub=ksub
    )
    dl_cols, enc_cols, approx, nrm_sum = _pq_sql_parts(books, EMB_DIM // m)
    return f"""
WITH v0 AS (
    SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x / nrm) AS v
    FROM (
        SELECT vec_id, embedding, sqrt({nrm_sum}) AS nrm FROM embeddings
    )
),
dl AS (
    SELECT vec_id, {dl_cols} FROM v0
),
enc AS (
    SELECT vec_id, {enc_cols} FROM dl
),
qd AS (
    SELECT * FROM dl WHERE vec_id < 10
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {approx} AS approx_dist
    FROM qd q JOIN enc c ON c.vec_id <> q.vec_id
),
short AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY approx_dist ASC, neighbor_id
               ) AS arn
        FROM scored
    ) WHERE arn <= {refine}
),
rescored AS (
    SELECT s.query_id, s.neighbor_id, {_pq_unit_dot()} AS cosine
    FROM short s
    JOIN v0 c ON c.vec_id = s.neighbor_id
    JOIN v0 q ON q.vec_id = s.query_id
)
SELECT query_id, rank, neighbor_id, cosine FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id
           ) AS INTEGER) AS rank
    FROM rescored
) WHERE rank <= {k}
"""


def _pq_unit_dot() -> str:
    """Unrolled q·c over unit vectors (dot of units IS cosine), same
    left-assoc add order as Spark's dot_expr."""
    return " + ".join(f"q.v[{i}] * c.v[{i}]" for i in range(1, EMB_DIM + 1))


# lazy: trains codebooks at oracle-request time (fixture-dependent)
SQL_SIM_SEARCH_PQ = _pq_oracle_sql


def q_sim_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS production layout end-to-end: trained coarse
    centroids prune to n_probe=4 of 16 cells (a partition-pruned scan
    at 100 TB), the probed cells are scanned as 16-byte PQ codes (ADC),
    and a 50-deep shortlist is exactly re-ranked from raw vectors
    fetched by point-lookup join. Global-codebook non-residual variant
    (operators.similarity.ivfpq_topk docstring); both trainings are
    deterministic, so centroid AND codebook literals inline into both
    the Spark plan and the DuckDB oracle — cell pruning, encoding, ADC
    shortlist, and re-ranked cosines are value-checked end-to-end."""
    import os as _os

    from journal_batch_processer_spark.operators.similarity import (
        ivfpq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 10)
    pq_path = _os.path.join(sf_dir, "embeddings.parquet")
    cents = train_ivf_centroids(pq_path, n_centroids=16)
    books = train_pq_codebooks(pq_path, m=16, ksub=16)
    return ivfpq_topk(
        embs, queries, cents, books, dim=EMB_DIM, k=5, n_probe=4, refine=50,
        n_rows=parquet_row_count(pq_path),
    ).select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        "cosine",
    )


def _ivfpq_oracle_sql(
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 16,
    ksub: int = 16,
    k: int = 5,
    refine: int = 50,
) -> str:
    """LAZY DuckDB oracle for q_sim_search_ivfpq: the IVF oracle's
    cell assignment composed with the PQ oracle's encode/ADC/refine,
    restricted to probed cells."""
    import os as _os

    from journal_batch_processer_spark.operators.similarity import (
        train_ivf_centroids,
        train_pq_codebooks,
    )

    sf_dir = oracle_sf_dir()
    pq_path = _os.path.join(sf_dir, "embeddings.parquet")
    cents = train_ivf_centroids(pq_path, n_centroids=n_centroids)
    books = train_pq_codebooks(pq_path, m=m, ksub=ksub)
    dl_cols, enc_cols, approx, nrm_sum = _pq_sql_parts(books, EMB_DIM // m)
    vals = ",\n        ".join(
        f"({i}, [{', '.join(repr(v) for v in c)}])"
        for i, c in enumerate(cents)
    )
    dot_ec = _DOT_SQL.replace("a.", "e.").replace("b.", "c2.")
    return f"""
WITH {_NORM_CTE},
cents AS (
    SELECT cent_id, v,
           sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                        i -> v[i] * v[i]))) AS nrm
    FROM (
        SELECT cent_id, v::DOUBLE[] AS v
        FROM (VALUES {vals}) t(cent_id, v)
    )
),
assigned AS (
    SELECT vec_id, cent_id, rn FROM (
        SELECT e.vec_id, c2.cent_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ({dot_ec} / (e.nrm * c2.nrm)) DESC, c2.cent_id
               ) AS rn
        FROM e CROSS JOIN cents c2
    )
),
v0 AS (
    SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x / nrm) AS v
    FROM (
        SELECT vec_id, embedding, sqrt({nrm_sum}) AS nrm FROM embeddings
    )
),
dl AS (
    SELECT vec_id, {dl_cols} FROM v0
),
enc AS (
    SELECT d.vec_id, a.cent_id AS cell, {enc_cols}
    FROM dl d
    JOIN (SELECT vec_id, cent_id FROM assigned WHERE rn = 1) a
      USING (vec_id)
),
qd AS (
    SELECT d.*, a.cent_id AS cell
    FROM dl d
    JOIN (SELECT vec_id, cent_id FROM assigned
          WHERE vec_id < 10 AND rn <= {n_probe}) a
      USING (vec_id)
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {approx} AS approx_dist
    FROM qd q JOIN enc c ON c.cell = q.cell AND c.vec_id <> q.vec_id
),
short AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY approx_dist ASC, neighbor_id
               ) AS arn
        FROM scored
    ) WHERE arn <= {refine}
),
rescored AS (
    SELECT s.query_id, s.neighbor_id, {_pq_unit_dot()} AS cosine
    FROM short s
    JOIN v0 c ON c.vec_id = s.neighbor_id
    JOIN v0 q ON q.vec_id = s.query_id
)
SELECT query_id, rank, neighbor_id, cosine FROM (
    SELECT query_id, neighbor_id, cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id
           ) AS INTEGER) AS rank
    FROM rescored
) WHERE rank <= {k}
"""


# lazy: trains centroids AND codebooks at oracle-request time
SQL_SIM_SEARCH_IVFPQ = _ivfpq_oracle_sql


QUERIES = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "sim_search_pq": (q_sim_search_pq, SQL_SIM_SEARCH_PQ),
    "sim_search_ivfpq": (q_sim_search_ivfpq, SQL_SIM_SEARCH_IVFPQ),
    "dedup_exact_hash": (q_dedup_exact_hash, SQL_DEDUP_EXACT_HASH),
    "dedup_ngram": (q_dedup_ngram, SQL_DEDUP_NGRAM),
    "dedup_containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "dedup_containment_prefix": (
        q_dedup_containment_prefix,
        SQL_DEDUP_CONTAINMENT,
    ),
    "dedup_ngram_prefix": (q_dedup_ngram_prefix, SQL_DEDUP_NGRAM_T50),
    "dedup_ngram_capped": (q_dedup_ngram_capped, SQL_DEDUP_NGRAM_CAPPED),
    "dedup_minhash": (q_dedup_minhash, SQL_DEDUP_MINHASH),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "dedup_near": (q_dedup_near, SQL_DEDUP_NEAR),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, SQL_DEDUP_SIMHASH_PAIRS),
    "text_winnowing": (q_text_winnowing, SQL_TEXT_WINNOWING),
    "text_winnowing_pairs": (q_text_winnowing_pairs, SQL_TEXT_WINNOWING_PAIRS),
    "text_langid_ngram": (q_text_langid_ngram, SQL_TEXT_LANGID_NGRAM),
    "dedup_editdist": (q_dedup_editdist, SQL_DEDUP_EDITDIST),
    "outlier_zscore": (q_outlier_zscore, SQL_OUTLIER_ZSCORE),
    "outlier_mad": (q_outlier_mad, SQL_OUTLIER_MAD),
    "observe_metrics": (q_observe_metrics, SQL_OBSERVE_METRICS),
    "arrow_map": (q_arrow_map, SQL_ARROW_MAP),
    "python_udtf": (q_python_udtf, SQL_PYTHON_UDTF),
    "pandas_api": (q_pandas_api, SQL_PANDAS_API),
    "dedup_embed": (q_dedup_embed, SQL_DEDUP_EMBED),
    "dedup_embed_lsh": (q_dedup_embed_lsh, SQL_DEDUP_EMBED_LSH),
    "dedup_cluster": (q_dedup_cluster, SQL_DEDUP_CLUSTER),
    "sim_search": (q_sim_search, SQL_SIM_SEARCH),
    "sim_search_ann": (q_sim_search_ann, SQL_SIM_SEARCH_ANN),
    "sim_search_binary": (q_sim_search_binary, SQL_SIM_SEARCH_BINARY),
    "sim_search_ivf": (q_sim_search_ivf, SQL_SIM_SEARCH_IVF),
    "text_tokens": (q_text_tokens, SQL_TEXT_TOKENS),
    "text_bm25": (q_text_bm25, SQL_TEXT_BM25),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "text_langid": (q_text_langid, SQL_TEXT_LANGID),
    "text_fingerprint": (q_text_fingerprint, SQL_TEXT_FINGERPRINT),
    "text_analysis": (q_text_analysis, SQL_TEXT_ANALYSIS),
    "text_tokens_bpe": (q_text_tokens_bpe, SQL_TEXT_TOKENS_BPE),
    "text_pii_scrub": (q_text_pii_scrub, SQL_TEXT_PII_SCRUB),
    "text_repetition": (q_text_repetition, SQL_TEXT_REPETITION),
    "quality_filter": (q_quality_filter, SQL_QUALITY_FILTER),
    "hash_split": (q_hash_split, SQL_HASH_SPLIT),
    "sample_stable": (q_sample_stable, SQL_SAMPLE_STABLE),
    "sample_stratified": (q_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "corpus_stats": (q_corpus_stats, SQL_CORPUS_STATS),
    "corpus_pipeline": (q_corpus_pipeline, SQL_CORPUS_PIPELINE),
    "corpus_quantiles": (q_corpus_quantiles, SQL_CORPUS_QUANTILES),
    "json_roundtrip": (q_json_roundtrip, SQL_JSON_ROUNDTRIP),
    "jsonl_scan": (q_jsonl_scan, SQL_JSONL_SCAN),
    "jsonl_scan_gz": (q_jsonl_scan_gz, SQL_JSONL_SCAN_GZ),
    "text_entropy": (q_text_entropy, SQL_TEXT_ENTROPY),
    "text_ngramlm": (q_text_ngramlm, SQL_TEXT_NGRAMLM),
    "dedup_substring": (q_dedup_substring, SQL_DEDUP_SUBSTRING),
    "split_leakage_safe": (q_split_leakage_safe, SQL_SPLIT_LEAKAGE_SAFE),
    "quality_classifier": (q_quality_classifier, SQL_QUALITY_CLASSIFIER),
    "dsir_select": (q_dsir_select, SQL_DSIR_SELECT),
    "text_watermark": (q_text_watermark, SQL_TEXT_WATERMARK),
    "sim_recall_eval": (q_sim_recall_eval, _sim_recall_oracle),
    "graph_triangles": (q_graph_triangles, SQL_GRAPH_TRIANGLES),
    "trainprep_pipeline": (q_trainprep_pipeline, SQL_TRAINPREP_PIPELINE),
    "dedup_url": (q_dedup_url, SQL_DEDUP_URL),
    "binary_ingest": (q_binary_ingest, _binary_ingest_sql),
    "cogroup_conversion": (q_cogroup_conversion, SQL_COGROUP_CONVERSION),
    "udtf_paragraphs": (q_udtf_paragraphs, SQL_UDTF_PARAGRAPHS),
    "pandas_udf_stats": (q_pandas_udf_stats, SQL_PANDAS_UDF_STATS),
    "multimodal_cols": (q_multimodal_cols, SQL_MULTIMODAL_COLS),
    "multimodal_resize": (q_multimodal_resize, SQL_MULTIMODAL_RESIZE),
    "multimodal_frames": (q_multimodal_frames, SQL_MULTIMODAL_FRAMES),
}
