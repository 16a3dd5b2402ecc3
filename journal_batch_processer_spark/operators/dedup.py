"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-conscious:

- exact key/content dedup: hash-groupBy with min-id winner (never
  ``dropDuplicates`` when determinism matters — it keeps an arbitrary
  row). At 100 TB: pre-hash the content (``sha2``/``md5``) so the
  shuffle key is 16 bytes, not a 100 KB document, and repartition by
  that hash.
- n-gram Jaccard: explode distinct shingles → self-join on shingle →
  per-pair intersection counts. The join is the classic candidate
  generator; frequent-shingle skew is the hazard at scale, so a
  document-frequency cap filters stop-shingles before the join.
- MinHash + LSH banding: fixed-seed affine permutations over xxhash64
  shingle hashes; band-hash buckets become join keys so candidate
  generation is linear, never all-pairs.
- SimHash: per-token hash bit votes aggregated into a 32-bit
  fingerprint; near-dups differ in ≤ k bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import pin

# 31-bit Mersenne prime keeps a*h+b < 2^47 — no ANSI long overflow
_MERSENNE = (1 << 31) - 1

# Float guard for the prefix filters: t*sz can land an ulp above the
# exact product (e.g. 150/3 → 50.000000000000007), and ceil would then
# SHORTEN a prefix or RAISE a required-overlap bound — a false-negative
# source. The epsilon only ever relaxes a bound (more candidates), and
# the verify step removes every false positive, so exactness holds.
_EPS = 1e-9

_MASK64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit scramble (splitmix64 finalizer) — used
    only at PLAN-BUILD time to derive permutation constants, never in
    the data path, so engine portability is untouched."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK64
    z = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK64
    return (z ^ (z >> 31)) & _MASK64


def minhash_perm(j: int) -> tuple[int, int]:
    """Constants (a, b) of the j-th minhash permutation
    h -> (a*h + b) mod _MERSENNE — shared by the Spark operator and
    the generated DuckDB oracle CTE so both engines band identically.

    The multiplier sequence must behave like INDEPENDENT random
    residues, not a structured progression. The original family
    (a = 2j+1) was maximally correlated: whenever one shingle's base
    hash satisfied h < _MERSENNE/63, a*h never wrapped for ANY of the
    32 multipliers, so that single shingle attained the min of every
    permutation and controlled the ENTIRE signature — two
    near-identical docs differing in such a low-hash shingle shared
    ZERO bands, and 14 pairs with jaccard 0.80-0.85 were invisible to
    16x2 banding at the x100 corpus (measured 0-1 common bands vs ~11
    for same-jaccard pairs; SWEEP_r13.md §3). An arithmetic
    progression of LARGE multipliers (a = C*(j+1) mod M) fixes those
    14 but is still cross-correlated (measured 15-16/16 common bands
    where independence predicts 10.7 — the same pathology with the
    opposite sign, waiting for a pair it anti-correlates). Splitmix-
    scrambled constants measure exactly the textbook curve: mean
    common bands = b*j^(2r) at every jaccard tier over 346k corpus
    pairs, 0 missed. a*h stays under 2^62, exact in the signed 64-bit
    integers of both engines; a=0 (probability ~2^-31) falls back
    to 1."""
    a = _splitmix64(2 * j) % _MERSENNE or 1
    b = _splitmix64(2 * j + 1) % _MERSENNE
    return a, b


def portable_hash64(col: F.Column) -> F.Column:
    """Engine-portable 60-bit uniform hash: integer value of the first
    15 hex chars of md5. Identical in any engine with md5 — DuckDB:
    ``('0x' || substring(md5(x), 1, 15))::BIGINT`` — which is what
    lets the minhash/simhash queries carry FULL value oracles instead
    of rows-only checks. 15 hex chars = 60 bits, exact in a BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def dedup_exact(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """One row per key group: the minimum id wins (deterministic),
    with the duplicate count kept for auditing."""
    return df.groupBy(*keys).agg(
        F.min(id_col).alias(f"first_{id_col}"),
        F.count(F.lit(1)).alias("n_dupes"),
    )


def content_hash(col: F.Column) -> F.Column:
    """16-byte shuffle key for content dedup at scale."""
    return F.md5(col)


def tokens_col(text: F.Column) -> F.Column:
    return F.split(F.lower(text), " ")


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    spread: bool = True,
) -> DataFrame:
    """Distinct (doc, shingle) rows with ONE exchange: nested zip_with
    over n shifted slices of the token array builds the shingle array
    in one linear co-walk, array_distinct dedups WITHIN the doc
    (cross-doc duplicates cannot exist — the row is keyed by doc), and
    a plain explode emits the rows. r13 (§2.3/§2.4): the previous
    posexplode + window-lead + distinct shape paid one shuffle of the
    EXPLODED per-token rows for the doc window plus a second for the
    distinct; here one repartition("doc") of the packed token arrays
    (strictly fewer bytes) both spreads the interpreted co-walk across
    the cluster and hash-partitions the output by doc, which the
    per-doc size aggregate every consumer runs reuses without a new
    exchange. A ZERO-exchange variant measured FASTER in isolation
    (0.33 s vs 0.86 s builder-only at sf0.1) but SLOWER end-to-end in
    every consumer (dedup_ngram 3.95 s vs 2.60 s): narrow over the
    parquet scan, the pinned shingle cache inherits the scan's few
    partitions and throttles the map side of all downstream exchanges
    — measure the consumer, not the builder. Row-set equality vs the
    window shape is pinned in tests/test_round13_gram_shapes.py.
    Character-gram builders with hundreds of elements per doc keep
    posexplode+lead (see winnow_fingerprints) — the crossover is
    elements-per-doc, and word shingles sit far below it.

    ``spread=False`` skips the repartition for consumers whose FIRST
    downstream operation re-partitions by shingle anyway (the prefix-
    filter generators: their df/rank window hashes on shingle, so the
    doc partitioning is never reused and the exchange is pure cost —
    ADVICE r13; A/B in plans/r14/ab_prefix_spread.txt). Doc-keyed
    consumers keep the default.
    """
    t = tokens_col(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc"), t.alias("t"), F.size(t).alias("m")
    ).filter(F.col("m") >= n)
    if spread:
        base = base.repartition("doc")
    ln = F.col("m") - F.lit(n - 1)
    g = F.slice(F.col("t"), 1, ln)
    for i in range(1, n):
        g = F.zip_with(
            g,
            F.slice(F.col("t"), i + 1, ln),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    return base.select("doc", F.explode(F.array_distinct(g)).alias("shingle"))


def _hashed_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_df: int | None,
    doc_keyed: bool = True,
    keep_str: bool = False,
) -> DataFrame:
    """Distinct (doc, shingle) rows with the shingle replaced by its
    8-byte xxhash64, so joins, windows and verify arrays move longs,
    not ~25-byte strings (~26% faster at sf0.1 from shuffle volume
    alone; identical output absent hash collisions, <<1 expected below
    ~10^9 distinct shingles — above that swap in the 16-byte
    unhex(md5) key).

    ``max_shingle_df`` drops shingles appearing in more than N docs
    BEFORE any size is taken, so every generator that accepts the cap
    sees the same sets and denominators — which is what keeps the
    naive and prefix paths output-identical for identical arguments.

    ``doc_keyed``: the self-join generators read the table three times
    (both join sides and the per-doc size aggregate), so it is spread
    by doc and pinned; the prefix generators re-partition by shingle
    first (their rank window), so they get it unspread and unpinned.
    ``keep_str`` carries the shingle string as ``shingle_str`` for
    portable rank tie-breaks.
    """
    sel = ["doc", F.xxhash64("shingle").alias("shingle")]
    if keep_str:
        sel.append(F.col("shingle").alias("shingle_str"))
    sh = shingle_table(df, id_col, text_col, n, spread=doc_keyed).select(*sel)
    if doc_keyed:
        sh = pin(sh)
    if max_shingle_df is not None:
        ok = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(ok), "shingle")
    return sh


def _self_join_overlap(sh: DataFrame, directed: bool) -> DataFrame:
    """(doc_a, doc_b, inter, sz_a, sz_b) for every doc pair sharing a
    shingle, by exploded self-join on the shingle. ``directed`` keeps
    both orders of each pair (doc_a != doc_b), else doc_a < doc_b."""
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc").alias("doc_b"), "shingle")
    keep = (
        F.col("doc_a") != F.col("doc_b")
        if directed
        else F.col("doc_a") < F.col("doc_b")
    )
    inter = (
        a.join(b, "shingle")
        .filter(keep)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "inter", "sz_a", "sz_b")
    )


def _array_verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact (doc_a, doc_b, inter, sz_a, sz_b) for the candidate pairs
    in ``cand`` (doc_a, doc_b) over the (doc, shingle) rows of ``sh``.

    Verifies on per-doc shingle arrays instead of re-joining the
    exploded shingle table: the arrays relation is one row per doc, so
    AQE broadcasts it at test scale and it stays an equi-join (never
    all-pairs) at corpus scale, moving Σ_pairs(|A|+|B|) values once
    per side with no post-join aggregate. array_intersect over
    distinct elements gives the exact intersection count, and the
    sizes come free as array lengths."""
    arrs = sh.groupBy("doc").agg(F.collect_list("shingle").alias("arr"))
    aa = arrs.select(F.col("doc").alias("doc_a"), F.col("arr").alias("arr_a"))
    ab = arrs.select(F.col("doc").alias("doc_b"), F.col("arr").alias("arr_b"))
    return (
        cand.join(aa, "doc_a")
        .join(ab, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b")).alias("inter"),
            F.size("arr_a").alias("sz_a"),
            F.size("arr_b").alias("sz_b"),
        )
    )


def _rarest_first(sh: DataFrame, cap: int | None = None) -> DataFrame:
    """Pinned (doc, shingle, rnk, sz) for the prefix generators: ``rnk``
    orders each doc's shingles rarest-first (document frequency, then
    the hashed shingle), ``sz`` is the set size. Window counts, not
    aggregate+join rounds: one exchange on shingle, one on doc (rnk and
    sz share the doc partitioning). Pinned because the prefix branch
    and the verify arrays both read it.

    ``cap`` truncates each doc to its ``cap`` rarest shingles and sizes
    it accordingly; rank ties then break on ``shingle_str`` (see
    :func:`ngram_jaccard_pairs_prefix`)."""
    tie = "shingle_str" if cap is not None else "shingle"
    w_doc = Window.partitionBy("doc")
    ranked = (
        sh.withColumn("df_", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .withColumn("rnk", F.row_number().over(w_doc.orderBy("df_", tie)))
        .withColumn("sz", F.count(F.lit(1)).over(w_doc))
    )
    if cap is not None:
        ranked = ranked.filter(F.col("rnk") <= cap).withColumn(
            "sz", F.least(F.col("sz"), F.lit(cap))
        )
    return pin(ranked.select("doc", "shingle", "rnk", "sz"))


def _prefix_len(t: float) -> F.Column:
    """Prefix length ``sz - ceil(t·sz) + 1`` of a ``_rarest_first`` row."""
    return F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - _EPS) + 1


def _jaccard() -> F.Column:
    return F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.1,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shingle self-join.

    ``max_shingle_df`` drops shingles appearing in more than N docs
    before the join — the skew guard that keeps the candidate join
    linear-ish at scale.
    """
    sh = _hashed_shingles(df, id_col, text_col, n, max_shingle_df)
    return (
        _self_join_overlap(sh, directed=False)
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """DIRECTED containment pairs: C(a→b) = |S(a) ∩ S(b)| / |S(a)| ≥ t.

    Jaccard misses the doc-in-doc case a training corpus is full of
    (a short article quoted whole inside a long aggregator page has
    tiny Jaccard but containment ≈ 1) — containment is the asymmetric
    measure that catches it; the contained side (doc_a) is the drop
    candidate. Same one-shuffle shingle equi-join as
    :func:`ngram_jaccard_pairs` — the candidate generator never goes
    all-pairs — emitting BOTH directions of each intersecting pair,
    filtered on the direction's own denominator.

    ``max_shingle_df`` is the stop-shingle skew guard; the PPJoin-style
    prefix filter does not transfer cheaply (containment has no length
    filter — a 10-shingle doc can be fully contained in a 10^6-shingle
    one, which is exactly the pair we want), so the df cap is the
    scale path here.
    """
    sh = _hashed_shingles(df, id_col, text_col, n, max_shingle_df)
    return (
        _self_join_overlap(sh, directed=True)
        .withColumn("containment", F.col("inter") / F.col("sz_a"))
        .filter(F.col("containment") >= threshold)
    )


def ngram_containment_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Directed containment via an ASYMMETRIC prefix filter (the r06
    refinement note): containment C(a→b) = inter/|S(a)| ≥ t bounds only
    the CONTAINED side, so the classic two-sided PPJoin prefix does not
    apply — but a one-sided one does. If a shares ≥ ceil(t·|S(a)|)
    shingles with b, at least one of them lies in a's
    ``|S(a)| - ceil(t·|S(a)|) + 1`` rarest shingles; so the candidate
    join probes with a's prefix against b's FULL shingle index. The
    probe side shrinks by ~(1-t) and — because prefixes are rarest-
    first — stop-shingles drop out of the probe side entirely, which
    is why this path does not NEED a df cap the way the plain
    containment join does.

    Two candidate-pruning filters survive the asymmetry:
    - length: inter ≤ |S(b)| and inter ≥ t·|S(a)| force
      |S(b)| ≥ t·|S(a)| (a 10-shingle doc CAN be contained in a
      10^6-shingle one — that passes; the reverse direction is pruned).
    - positional (probe side only): a match at rank ``rnk_a`` leaves at
      most ``|S(a)| - rnk_a + 1`` shingles of a to overlap, which must
      still reach ceil(t·|S(a)|); a true pair's FIRST common shingle
      always passes.

    Verification computes the exact intersection over per-doc arrays,
    so the output is IDENTICAL to :func:`ngram_containment_pairs` for
    the same arguments (equality asserted in tests; same oracle).
    ``max_shingle_df`` keeps the exact op's pre-filter semantics (it
    changes the sets, hence the denominators) so the two paths stay
    comparable — at scale, prefer leaving it None here.
    """
    t = float(threshold)
    annotated = _rarest_first(
        _hashed_shingles(df, id_col, text_col, n, max_shingle_df, doc_keyed=False)
    )
    alpha_a = F.ceil(F.lit(t) * F.col("sz_a") - _EPS)  # required overlap
    # probe side: contained-candidate prefixes only
    probe = annotated.filter(F.col("rnk") <= _prefix_len(t)).select(
        F.col("doc").alias("doc_a"),
        "shingle",
        F.col("rnk").alias("rnk_a"),
        F.col("sz").alias("sz_a"),
    )
    # index side: FULL shingle table (containment has no prefix bound
    # on the container)
    index = annotated.select(
        F.col("doc").alias("doc_b"), "shingle", F.col("sz").alias("sz_b")
    )
    cand = (
        probe.join(index, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .filter(F.col("sz_b") >= alpha_a)  # container must fit the overlap
        .filter(F.col("sz_a") - F.col("rnk_a") + 1 >= alpha_a)  # positional
        .select("doc_a", "doc_b")
        .distinct()
    )
    return (
        _array_verify(cand, annotated)
        .withColumn("containment", F.col("inter") / F.col("sz_a"))
        .filter(F.col("containment") >= threshold)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.1,
    max_shingles_per_doc: int | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (PPJoin-family): for
    Jaccard ≥ t, two sets of sizes |A|,|B| must share a shingle inside
    each one's prefix of its ``|S| - ceil(t·|S|) + 1`` globally-rarest
    shingles — so the candidate join runs over prefixes only, and the
    full sets are touched just once more to verify true intersections.

    Output is IDENTICAL to ``ngram_jaccard_pairs`` (no false
    negatives at the threshold; verification removes false positives)
    — same oracle — but the candidate join is over a small fraction of
    the shingle table, which is what survives at corpus scale where a
    frequent shingle would otherwise fan out quadratically. Rarest-
    first ordering makes prefixes maximally selective; ties break on
    the hashed shingle so the prefix choice is deterministic.

    ``max_shingles_per_doc`` is the MEGA-DOCUMENT skew guard (VERDICT
    r04 #6): each document's shingle set is truncated to its
    ``max_shingles_per_doc`` globally-rarest shingles (rarest-first —
    the most discriminative ones survive), and Jaccard is computed
    EXACTLY over the capped sets (``sz`` = capped size). For documents
    under the cap the result is identical to the exact operator;
    above it, the output is the exact threshold-Jaccard of the capped
    sets — a documented, deterministic approximation that bounds the
    quadratic candidate fan-out and the per-doc verify-array memory a
    book-length outlier would otherwise concentrate in one task (the
    rank window itself stays O(n log n) and disk-spillable). With the
    cap on, rank ties break on the shingle STRING rather than its
    hash so the kept set is portable to the SQL oracle (dedup_ngram
    _capped is value-checked end-to-end; hash-order capping would be
    equally valid but unverifiable in DuckDB, which lacks xxhash64).
    """
    t = float(threshold)
    cap = max_shingles_per_doc
    if cap is not None and cap < 1:
        raise ValueError(f"max_shingles_per_doc must be >= 1, got {cap}")
    # with the cap on, the shingle string rides along ONLY to order
    # rank ties portably; _rarest_first drops it before pinning, so the
    # candidate join and verify arrays still move 8-byte longs
    annotated = _rarest_first(
        _hashed_shingles(
            df, id_col, text_col, n, max_shingle_df,
            doc_keyed=False, keep_str=cap is not None,
        ),
        cap,
    )
    ranked = annotated.filter(F.col("rnk") <= _prefix_len(t))

    a = ranked.select(
        F.col("doc").alias("doc_a"), "shingle",
        F.col("rnk").alias("rnk_a"), F.col("sz").alias("sz_a"),
    )
    b = ranked.select(
        F.col("doc").alias("doc_b"), "shingle",
        F.col("rnk").alias("rnk_b"), F.col("sz").alias("sz_b"),
    )
    # Required overlap for jaccard ≥ t: inter ≥ t/(1+t) · (|A|+|B|).
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("sz_a") + F.col("sz_b")) - _EPS
    )
    # Common-prefix COUNT lower bound (r12, lossless): sort the I
    # common tokens of a true pair by the global rarity order; the
    # i-th smallest has rank ≤ sz - (I - i) in each doc, so the first
    # I - ceil(t·sz) + 1 of them sit inside that doc's prefix — with
    # I ≥ alpha, at least alpha - max(ceil(t·sz_a), ceil(t·sz_b)) + 1
    # common tokens lie in BOTH prefixes. Junk candidates share 1-3
    # prefix tokens; at the ×100 corpus this filter cut the verify
    # input 37× (73.6M → 1.97M on a 1/16 doc slice) — without it both
    # engines verify 1.2e9 candidates. Epsilons only ever RELAX the
    # bound (alpha's -eps shrinks it, the subtracted ceils' +eps grow
    # them), so no true pair is lost. Aggregating costs the same
    # exchange the old .distinct() paid.
    #
    # The POSITIONAL filter moves into the same group stage as
    # min-rank aggregates: per-row it would delete deep-rank shared
    # tokens from the COUNT and undercut the bound above (caught by
    # test_prefix_filter_equals_plain_jaccard). Pair-wise the two
    # forms are equivalent — the minimum-order shared token minimizes
    # both ranks at once (rank orders restricted to shared tokens are
    # both the global order), so SOME row passes iff the min-rank row
    # does.
    cnt_min = (
        alpha
        - F.greatest(
            F.ceil(F.lit(t) * F.col("sz_a") + _EPS),
            F.ceil(F.lit(t) * F.col("sz_b") + _EPS),
        )
        + 1
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: |B| ≥ t·|A| and |A| ≥ t·|B|
        .filter(F.col("sz_b") >= F.lit(t) * F.col("sz_a") - _EPS)
        .filter(F.col("sz_a") >= F.lit(t) * F.col("sz_b") - _EPS)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("cnt_pp"),
            F.min("rnk_a").alias("mrnk_a"),
            F.min("rnk_b").alias("mrnk_b"),
            F.first("sz_a").alias("sz_a"),
            F.first("sz_b").alias("sz_b"),
        )
        # positional filter (group form): tokens at/after the pair's
        # min-rank shared token bound the achievable overlap; a true
        # pair's FIRST common token always passes.
        .filter(
            1 + F.least(
                F.col("sz_a") - F.col("mrnk_a"),
                F.col("sz_b") - F.col("mrnk_b"),
            )
            >= alpha
        )
        .filter(F.col("cnt_pp") >= cnt_min)
        .select("doc_a", "doc_b")
    )
    return (
        _array_verify(cand, annotated)
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
    )


# Measured generator crossover (SURVEY 11e, sf0.1): the prefix
# generator pays two ranking windows (df rank + per-doc rank) to
# shrink the candidate join to each doc's rarest (1-t)·sz prefix. At
# t=0.2 (~80% prefix survival) it measured 4.0s vs the df-capped
# naive join's 3.0s — windows bought almost nothing; at t=0.5 it
# measured 0.69s vs 2.1s. The win condition is candidate-volume
# reduction ≈ (1-t)^2 outweighing the fixed window cost, which those
# two measurements bracket at t ≈ 0.35. The constant is the encoded
# crossover, not a tunable.
PREFIX_CROSSOVER_THRESHOLD = 0.35


def select_jaccard_generator(
    threshold: float,
    max_shingles_per_doc: int | None = None,
) -> str:
    """Route a threshold-Jaccard pair job to the generator that
    measures faster: ``"prefix"`` (PPJoin-style) above the measured
    crossover or whenever the mega-doc cap is requested (only the
    prefix path implements it), else ``"naive"`` (df-capped shingle
    self-join). Pure function so the routing itself is unit-testable."""
    if max_shingles_per_doc is not None:
        return "prefix"
    return "prefix" if threshold >= PREFIX_CROSSOVER_THRESHOLD else "naive"


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.1,
    max_shingle_df: int | None = None,
    max_shingles_per_doc: int | None = None,
) -> DataFrame:
    """Exact threshold-Jaccard pairs with the generator CHOSEN FOR the
    caller (VERDICT r07 #5): same output either way — both paths drop
    stop-shingles with identical pre-filter semantics and verify
    exactly — so callers state the semantics (threshold + caps) and
    get the measured fast path without knowing the tradeoff."""
    kind = select_jaccard_generator(threshold, max_shingles_per_doc)
    if kind == "prefix":
        return ngram_jaccard_pairs_prefix(
            df,
            id_col,
            text_col,
            n=n,
            threshold=threshold,
            max_shingles_per_doc=max_shingles_per_doc,
            max_shingle_df=max_shingle_df,
        )
    return ngram_jaccard_pairs(
        df, id_col, text_col, n=n, threshold=threshold, max_shingle_df=max_shingle_df
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc, sig array) via group-min aggregation — min is
    order-insensitive, so the signature is just ``n_hashes`` MIN
    aggregates over the exploded shingle rows: fully codegen'd
    map-side-combining aggregation, no array lambdas anywhere.

    Seeded with the engine-portable md5 hash (one md5 per shingle row,
    then cheap affine permutations), so the whole signature is
    reproducible in DuckDB and the LSH queries get full oracles.

    ``shingles``: optionally pass a pre-built (doc, shingle) table
    (``shingle_table`` output, usually pinned) so callers that ALSO
    need the raw shingles for an exact-verify leg pay the
    posexplode+window+distinct scan once, not twice."""
    sh = (
        shingles
        if shingles is not None
        else shingle_table(df, id_col, text_col, n)
    )
    h = F.pmod(portable_hash64(F.col("shingle")), F.lit(_MERSENNE))
    aggs = []
    for j in range(n_hashes):
        a, b = minhash_perm(j)
        aggs.append(F.min((h * a + b) % _MERSENNE).alias(f"s{j}"))
    sig = sh.groupBy("doc").agg(*aggs)
    return sig.select(
        "doc", F.array(*[F.col(f"s{j}") for j in range(n_hashes)]).alias("sig")
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidates.

    Shuffle profile: one explode to (doc, band, bucket), one groupBy-
    join on (band, bucket) — linear in corpus size + bucket collisions;
    never an all-pairs cross join.
    """
    # persist: the band table feeds BOTH sides of the self-join
    banded = pin(
        banded_signatures(df, id_col, text_col, n_hashes, bands, n, shingles)
    )
    left = banded.select(F.col("doc").alias("doc_a"), "band", "bucket")
    right = banded.select(F.col("doc").alias("doc_b"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc, band, bucket) rows: the LSH band table both the self-join
    and the incremental (new-vs-corpus) dedup join consume."""
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n_hashes, n, shingles)
    # band key = the band's signature values joined as a string —
    # engine-portable (vs F.hash) and still one narrow projection;
    # the slice lambda is interpreted but runs on one row per DOC,
    # not per shingle, so it is off the hot path
    band_cols = [
        F.array_join(
            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band).cast(
                "array<string>"
            ),
            ",",
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    return sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_cols[b].alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")


def minhash_candidates_incremental(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
) -> DataFrame:
    """Nightly-batch dedup shape: candidates between a NEW batch and
    the EXISTING corpus only — never corpus×corpus. Both sides use the
    same portable permutations, so at scale the corpus band table is
    computed once, stored partitioned by (band, bucket), and each new
    batch joins against it linearly in the batch size."""
    new_b = banded_signatures(new_df, id_col, text_col, n_hashes, bands, n)
    old_b = banded_signatures(old_df, id_col, text_col, n_hashes, bands, n)
    return (
        new_b.selectExpr("doc AS new_doc", "band", "bucket")
        .join(old_b.selectExpr("doc AS old_doc", "band", "bucket"), ["band", "bucket"])
        .select("new_doc", "old_doc")
        .distinct()
    )



def apply_index_changes(
    index_df: DataFrame,
    changes_df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    fresh_bands: DataFrame | None = None,
) -> DataFrame:
    """Maintain an LSH band index INCREMENTALLY from a table change
    feed: ``changes_df`` carries ``_change`` ('insert'/'delete') and
    ``_commit_version`` rows as produced by SnapshotTable.read_changes
    — an updated document arrives as delete(old row) + insert(new row)
    in one commit. The feed may span MANY commits: per document the
    LAST change wins (ordered by ``_commit_version``, insert over the
    same-commit delete), so a doc updated then later range-deleted
    nets out to absence, exactly the head state. Signatures are a pure
    per-document function of the text, so maintenance is exact and
    O(changes): every changed doc's rows drop from the index (the
    changed-doc set broadcasts) and only final-insert texts re-band —
    the corpus is never re-signatured.

    Invariant (pinned in tests): apply_index_changes(index(v_a),
    changes(v_a→v_b)) == index(v_b) computed from scratch.

    ``fresh_bands``: optionally pass the pre-built band table of the
    final-insert winner rows so a caller that ALSO bands those rows
    (probe_band_index over the same delta) signatures them once, not
    twice. The caller guarantees equivalence — for a SINGLE-commit
    feed the winners are exactly the feed's insert rows, so
    ``banded_signatures(changes.filter(insert))`` qualifies; for a
    multi-commit feed it does not (a doc inserted then deleted must
    net out)."""
    # The CHANGED-doc set is the distinct id set of the raw feed — the
    # last-change window cannot add or remove ids (row_number keeps at
    # least one row per id), so computing it window-free prunes the
    # feed scan to the id column and drops a per-id shuffle (§2.4;
    # r14 — before, the window ran even when fresh_bands made its
    # winners side unused).
    changed = changes_df.select(F.col(id_col).alias("doc")).distinct()
    kept = index_df.join(F.broadcast(changed), "doc", "left_anti")
    if fresh_bands is not None:
        fresh = fresh_bands.select("doc", "band", "bucket")
    else:
        from pyspark.sql import Window

        w = Window.partitionBy(id_col).orderBy(
            F.col("_commit_version").desc(), F.col("_change").desc()
        )
        winners = (
            changes_df.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col("_change") == "insert"))
            .select(id_col, text_col)
        )
        fresh = banded_signatures(winners, id_col, text_col, n_hashes, bands, n)
    return kept.unionByName(fresh)


def probe_band_index(
    index_df: DataFrame,
    delta_df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    delta_bands: DataFrame | None = None,
) -> DataFrame:
    """Dedup candidates for CHANGED documents against a maintained
    band index: band the delta, equi-join on (band, bucket) — linear
    in the delta size plus bucket collisions, the incremental sibling
    of minhash_candidates' self-join. The index side should already
    contain the delta's own rows (apply_index_changes first) so
    changed-vs-changed pairs surface too; self-matches drop.

    ``delta_bands``: optionally pass ``banded_signatures(delta_df)``
    pre-built (usually pinned) so a caller that already banded the
    delta for index maintenance pays the signature scan once."""
    delta_b = (
        delta_bands
        if delta_bands is not None
        else banded_signatures(delta_df, id_col, text_col, n_hashes, bands, n)
    )
    return (
        delta_b.selectExpr("doc AS probe_doc", "band", "bucket")
        .join(
            index_df.selectExpr("doc AS match_doc", "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("probe_doc") != F.col("match_doc"))
        .select("probe_doc", "match_doc")
        .distinct()
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
) -> DataFrame:
    """The production near-dup pipeline: LSH banding generates
    candidates (linear), exact Jaccard verifies ONLY those candidates
    on per-doc shingle arrays (:func:`_array_verify`, the verify the
    prefix generators share).

    With r = n_hashes/bands = 2 rows per band, candidate recall at
    j=0.5 is 1-(1-0.25)^16 ≈ 0.99 and ≈1.0 for j≥0.7 — the verify
    step then removes all false positives, so the output equals the
    exact all-pairs sweep wherever recall holds, at a fraction of the
    join cost. Output: (doc_a, doc_b, jaccard), doc_a < doc_b.
    """
    # ONE pinned raw shingle table feeds both the minhash signatures
    # (candidate leg, which hashes the shingle STRING portably) and
    # the verify leg
    sh_raw = pin(shingle_table(df, id_col, text_col, n))
    cand = pin(
        minhash_candidates(
            df, id_col, text_col, n_hashes, bands, n, shingles=sh_raw
        )
    )
    # hashed shingles: same rationale/caveat as _hashed_shingles
    sh = sh_raw.select("doc", F.xxhash64("shingle").alias("shingle"))
    # cand sits behind the minhash band self-join, and Catalyst's
    # STATIC size estimate for it derives from the pre-explode scan —
    # at 100× it put the ~2e7-pair relation under the broadcast
    # threshold and died building the broadcast table. The hint makes
    # it the per-partition hash-build side of a shuffled join instead;
    # the arrays side is sized by AQE from runtime shuffle stats.
    return (
        _array_verify(cand.hint("shuffle_hash"), sh)
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_fingerprint(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """Per-document SimHash: explode tokens, vote each bit of the token
    hash, reassemble the fingerprint. One shuffle (groupBy doc).
    Token hash is the portable md5 derivation → full DuckDB oracle."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    )
    h = portable_hash64(F.col("tok"))
    votes = toks.groupBy("doc").agg(
        *[
            # shiftright: exact for all 64 bits (double division isn't)
            F.sum(
                F.when(F.shiftright(h, b) % 2 == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return votes.select("doc", fp.cast("long").alias("simhash"))


def duplicated_substring_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 15
) -> DataFrame:
    """Exact repeated-substring spans — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    signal, re-expressed for a cluster: their single-node suffix array
    finds every substring of >= 50 tokens that occurs twice anywhere
    in the corpus; the distributed equivalent hashes EVERY k-token
    rolling window (not every chunk boundary — that's dedup_chunks),
    keeps windows whose hash occurs >= 2 times corpus-wide, and merges
    each doc's surviving offsets into maximal spans (gaps-and-islands
    on the running span end). Any duplicated run of >= k tokens is
    covered by duplicated windows at every offset inside it, so the
    merged islands are exactly the maximal duplicated regions, length
    >= k.

    Scale shape: window emission is one doc-partitioned lead-window
    pass (~16 bytes of md5 per token position — the reason for
    hashing instead of shuffling the window text itself); the df>=2
    filter is one
    partial-aggregated groupBy on the hash; span merge is a window
    function partitioned BY DOC. Nothing is pairwise and nothing
    collects: the suffix array's O(corpus) sequential scan becomes
    two shuffles. Output: (doc, span_start, span_len, n_dup_windows)
    per maximal span, 0-based token offsets.
    """
    # r13: window hashes via the posexplode + lead-window shape (the
    # shingle_table / winnow_fingerprints precedent — the
    # transform/slice lambda ran INTERPRETED per token position), and
    # the window table is pinned: it feeds BOTH the df>=2 aggregate
    # and the recover join, so unpinned the emission ran twice.
    tok_rows = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens_col(F.col(text_col))).alias("pos", "tok"),
    )
    w_tok = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", i).over(w_tok) for i in range(1, k)
    ]
    wins = pin(
        tok_rows.select(
            "doc",
            F.col("pos").alias("o"),
            F.when(
                parts[-1].isNotNull(), F.md5(F.concat_ws(" ", *parts))
            ).alias("h"),
        ).filter(F.col("h").isNotNull())
    )
    dup_h = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    dup = wins.join(dup_h, "h").select("doc", "o")
    w = Window.partitionBy("doc").orderBy("o")
    prev_end = F.max(F.col("o") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup.withColumn(
        "brk", (F.col("o") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    )
    isl = flagged.withColumn("island", F.sum("brk").over(w))
    return (
        isl.groupBy("doc", "island")
        .agg(
            F.min("o").alias("span_start"),
            (F.max("o") + k - F.min("o")).alias("span_len"),
            F.count(F.lit(1)).alias("n_dup_windows"),
        )
        .select(
            F.col("doc").alias(id_col),
            "span_start",
            "span_len",
            "n_dup_windows",
        )
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup PAIRS via block probing (Manku, Jain & Das
    Sarma, WWW'07 — the web-crawl dedup method): split the b-bit
    fingerprint into ``max_hamming + 1`` equal blocks; by pigeonhole,
    two fingerprints within Hamming distance k must agree EXACTLY on
    at least one block, so candidates come from an equi-join on
    (block_idx, block_value) — never all-pairs — and one popcount
    verifies. At 100 TB this is (k+1) shuffle-light self-joins on
    8-bit-block keys vs the quadratic sweep; the fingerprint itself is
    the existing one-shuffle :func:`simhash_fingerprint` (portable
    md5 bit votes, so the WHOLE pipeline keeps a full value oracle).
    Output: (doc_a, doc_b, hamming), doc_a < doc_b, hamming ≤ k."""
    n_blocks = max_hamming + 1
    if bits % n_blocks:
        raise ValueError(f"bits={bits} not divisible into {n_blocks} blocks")
    width = bits // n_blocks
    fp = simhash_fingerprint(df, id_col, text_col, bits=bits)
    block_vals = F.array(
        *[
            (F.shiftright(F.col("simhash"), i * width) % (1 << width)).cast(
                "long"
            )
            for i in range(n_blocks)
        ]
    )
    b = fp.select("doc", "simhash", F.posexplode(block_vals).alias("blk", "bv"))
    a, c = b.alias("a"), b.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.bv") == F.col("c.bv"))
            & (F.col("a.doc") < F.col("c.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("c.doc").alias("doc_b"),
            F.col("a.simhash").alias("fa"),
            F.col("c.simhash").alias("fb"),
        )
        .distinct()  # agreement on several blocks yields one pair
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """WINNOWING fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03
    — the MOSS plagiarism-detection selection rule): hash every
    k-token gram, slide a w-gram window, keep each window's MINIMUM
    hash — guaranteeing any shared run of ≥ w+k-1 tokens between two
    documents shares a fingerprint, with selection density ~2/(w+1)
    instead of every position. The local selection is what
    distinguishes it from `duplicated_substring_spans` (global df≥2)
    and `dedup_chunks` (boundary-aligned): fingerprints are chosen
    per document with NO corpus-wide state, so the signature of a doc
    never changes as the corpus grows — the stable sharding property
    index builders rely on.

    Tie-break (paper's "rightmost minimal") is made exact and
    engine-portable by ranking on the 21-char string
    ``%015x(hash) || %06d(999999 - idx)`` — unique per position, so
    "distinct window minima" identifies exactly one gram per window
    and a plain join recovers (position, hash). Plan shape: gram
    hashing is a per-row expression, window minima one partitioned
    window pass, the recover join an equi-join on the unique key —
    nothing pairwise, nothing corpus-global. Output: (doc, pos, fp)
    distinct selected fingerprints, 0-based gram positions.

    r13: grams are built with the posexplode + window-lead shape (the
    shingle_table precedent — the transform/slice array lambda runs
    INTERPRETED, off whole-stage codegen) and ``g`` is pinned: it
    feeds both the window-minima pass and the recover join, so
    unpinned it executed the gram generation twice per call. The lead
    window partitions by doc exactly like the minima window, so the
    reshape adds no exchange."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens_col(F.col(text_col))).alias("pos", "tok"),
    )
    w_tok = Window.partitionBy("doc").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w_tok) for i in range(1, k)]
    grams = (
        toks.select(
            "doc",
            # 0-based gram start position — the old posexplode over the
            # gram ARRAY indexed 0-based, and pos/key/full-window logic
            # all assume that
            F.col("pos").alias("idx"),
            F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias(
                "gram"
            ),
        )
        .filter(F.col("gram").isNotNull())
    )
    g = pin(
        grams.select(
            "doc",
            "idx",
            portable_hash64(F.col("gram")).alias("fp"),
        ).withColumn(
            "key",
            F.format_string(
                "%015x%06d", F.col("fp"), F.lit(999999) - F.col("idx")
            ),
        )
    )
    win = Window.partitionBy("doc").orderBy("idx").rowsBetween(0, w - 1)
    cnt = Window.partitionBy("doc")
    wm = (
        g.withColumn("wmin", F.min("key").over(win))
        .withColumn("__n", F.count("*").over(cnt))
        # only FULL windows select (the paper's definition)
        .filter(F.col("idx") <= F.col("__n") - w)
        .select(F.col("doc").alias("wdoc"), "wmin")
        .distinct()
    )
    return (
        wm.join(
            g,
            (F.col("wdoc") == F.col("doc")) & (F.col("wmin") == F.col("key")),
        )
        .select("doc", F.col("idx").alias("pos"), "fp")
    )
