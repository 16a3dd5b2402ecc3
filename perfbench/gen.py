"""Seeded input generators for the benchmark workloads.

Everything here is plain Python + NumPy + pyarrow: no Spark. The same
``(shape, seed)`` always writes the same bytes, and each generator also
returns the ground truth the output checks compare against, so the
program under test receives only the generated files.

Items: an Alma item CSV plus a remote item store (parquet) for the
update stage. Descriptions use the seven styles of
``journal_batch_processer_spark.queries.itemview.description_expr``,
whose expected ``Pattern`` per style is documented there, so the
per-pattern counts come free.

Corpus: a docs parquet (``doc_id, text, lang, source, n_chars``) with
short docs the quality gate drops, planted exact duplicates, planted
near-duplicate pairs (3-shingle Jaccard well above 0.5), related pairs
well below it that still become LSH candidates, and injected PII.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# queries/itemview.py MONTHS: mixed spellings the month token matches.
MONTHS = [
    "Jan", "february", "MAR", "Apr", "may", "JUNE",
    "Jul", "aug", "Sept", "Oct", "nov", "Dec",
]
# queries/itemview.py EXPECTED_EXTRACT_SQL: expected Pattern per style.
STYLE_PATTERN = (
    "StdMatch", "YearBeforeMonth", "SplitYears", "StdMatch",
    "StdMatch", "N/A", "StdMatch",
)
# styles whose Chron I starts with a 4-digit year (imputation anchors);
# style 6 carries a 2-digit year, style 5 none
ANCHOR_STYLES = frozenset({0, 1, 2, 3, 4})

ITEMS_CSV = "items.csv"
REMOTE_PARQUET = "items_remote.parquet"
DOCS_PARQUET = "docs.parquet"

# sources/rest.py and sinks/rest_push.py note prefixes
FETCH_ERR = "Err: Problem fetching item information. Code "
PUSH_ERR = "Err: #Problem with Networking request. Code "


@dataclass(frozen=True)
class ItemsShape:
    n_items: int
    min_run: int            # items per title (MMS ID), inclusive range
    max_run: int
    i_barcode_share: float  # barcodes flagged by flag_i_barcode
    miss_share: float       # barcodes absent from the remote store (404)
    http_503_share: float
    http_500_share: float
    put_fail_share: float   # simulated PUT returns 409
    remote_factor: float    # remote store rows / batch rows


@dataclass(frozen=True)
class CorpusShape:
    n_base: int
    short_share: float      # docs under the gate's 50-token minimum
    exact_share: float      # base docs that get 1-2 exact copies
    near_share: float       # base docs that get one near-duplicate
    far_share: float        # base docs that get one related copy (Jaccard
                            # about 0.3): LSH candidates the verify rejects
    pii_share: float        # docs with an injected email / IPv4 / phone


def description(style: int, vol: int, m: int, mon1: str, mon2: str, y4: int) -> str:
    """itemview.description_expr, one row at a time."""
    if style == 0:
        return f"v.{vol} no.{m} ({mon1} {y4})"
    if style == 1:
        return f"Vol {vol} ({y4} {mon1})"
    if style == 2:
        return f"v.{vol} ({mon1} {y4} - {mon2} {y4 + 1})"
    if style == 3:
        return f"ser. 2 v. {vol} no {m}-{m + 1} ({mon1} {y4})"
    if style == 4:
        return f"v{vol} pt.{m} ({y4})"
    if style == 5:
        return f"index {y4}"
    return f"v {vol} nos. {m}/{m + 1} ({mon1} {str(y4)[2:4]})"


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def write_items(out_dir: str, shape: ItemsShape, seed: int) -> dict:
    """Item CSV + remote store; returns paths, digest and ground truth."""
    rng = np.random.default_rng([seed, 1])
    rows = []           # [mms, title index, description, style]
    g = 0
    while len(rows) < shape.n_items:
        run = int(rng.integers(shape.min_run, shape.max_run + 1))
        run = min(run, shape.n_items - len(rows))
        mms = str(9900000000000 + 7919 * g + int(rng.integers(0, 7919)))
        base_year = int(rng.integers(1900, 1960))
        for k in range(1, run + 1):
            style = int(rng.integers(0, 7))
            mon1, mon2 = (MONTHS[int(i)] for i in rng.integers(0, 12, 2))
            desc = description(style, k, k % 9 + 1, mon1, mon2,
                               base_year + (k - 1) // 4)
            rows.append([mms, g, desc, style])
        g += 1
    n = len(rows)
    # unique numeric barcodes; a share become i-barcodes
    bc_num = 39000000000000 + rng.choice(10 * n, size=n, replace=False)
    i_bc = rng.random(n) < shape.i_barcode_share
    barcodes = [("i" if i else "") + str(b) for b, i in zip(bc_num, i_bc)]

    # a 2-digit year with no 4-digit anchor in its title gets the
    # year-impute error note (operators/year_impute.py)
    anchored = {r[1] for r in rows if r[3] in ANCHOR_STYLES}
    year_err = [r[3] == 6 and r[1] not in anchored for r in rows]

    order = rng.permutation(n)  # export order is not natural order
    csv_path = os.path.join(out_dir, ITEMS_CSV)
    with open(csv_path, "w", encoding="utf-8", newline="\n") as f:
        f.write("MMS ID,Barcode,title,Description,Status\n")
        for i in order:
            mms, gi, desc, _ = rows[i]
            status = "Item in place" if (gi + i) % 5 else "Item not in place"
            f.write(f"{mms},{barcodes[i]},Journal of Serials {gi},{desc},{status}\n")

    # remote store: batch barcodes minus misses, plus remote-only rows
    u = rng.random(n)
    miss = u < shape.miss_share
    s503 = (~miss) & (u < shape.miss_share + shape.http_503_share)
    s500 = (~miss) & (~s503) & (
        u < shape.miss_share + shape.http_503_share + shape.http_500_share)
    put_fail = rng.random(n) < shape.put_fail_share
    n_extra = max(0, int(shape.remote_factor * n) - int((~miss).sum()))
    extra = 39000000000000 + 10 * n + rng.choice(10 * n, size=n_extra, replace=False)
    r_bc = [str(b) for b, m in zip(bc_num, miss) if not m] + [str(b) for b in extra]
    r_http = [503 if a else 500 if b else 200
              for a, b, m in zip(s503, s500, miss) if not m] + [200] * n_extra
    r_put = [409 if p else 200 for p, m in zip(put_fail, miss) if not m] + [200] * n_extra
    nr = len(r_bc)
    item_type = pa.struct([("code", pa.string()), ("desc", pa.string())])
    enum_a = [None if j % 3 == 0 else f"v.{j % 97}" for j in range(nr)]
    item = pa.StructArray.from_arrays(
        [
            pa.array([{"code": "ISSUE", "desc": "Issue"}] * nr, item_type),
            pa.array([{"code": "0", "desc": "general circulation"}] * nr, item_type),
            pa.array(enum_a, pa.string()),
            pa.array([None] * nr, pa.string()),
            pa.array([None if j % 2 else str(1900 + j % 120) for j in range(nr)],
                     pa.string()),
            pa.array([None] * nr, pa.string()),
        ],
        names=["physical_material_type", "policy", "enumeration_a",
               "enumeration_b", "chronology_i", "chronology_j"],
    )
    remote = pa.table({
        "barcode": pa.array(r_bc, pa.string()),
        "update_url": pa.array([f"https://items.example/{b}" for b in r_bc]),
        "http_status": pa.array(r_http, pa.int32()),
        "put_status": pa.array(r_put, pa.int32()),
        "item": item,
    })
    remote_path = os.path.join(out_dir, REMOTE_PARQUET)
    pq.write_table(remote, remote_path)

    # ground truth of the update routing (pipeline.update_stage)
    pattern_counts: dict[str, int] = {}
    codes: dict[str, int] = {}
    success = 0
    for i, r in enumerate(rows):
        pat = STYLE_PATTERN[r[3]]
        pattern_counts[pat] = pattern_counts.get(pat, 0) + 1
        if pat == "N/A" or i_bc[i] or year_err[i]:
            key = "pre_route"
        elif miss[i]:
            key = FETCH_ERR + "404"
        elif s503[i]:
            key = FETCH_ERR + "503"
        elif s500[i]:
            key = FETCH_ERR + "500"
        elif put_fail[i]:
            key = PUSH_ERR + "409"
        else:
            success += 1
            continue
        codes[key] = codes.get(key, 0) + 1
    truth = {
        "n_items": n,
        "n_titles": g,
        "pattern_counts": pattern_counts,
        "error_counts": codes,
        "success": success,
        "year_err": int(sum(year_err)),
        "i_barcodes": int(i_bc.sum()),
        "remote_rows": nr,
    }
    return {
        "paths": {"items_csv": csv_path, "remote": remote_path},
        "digest": file_digest([csv_path, remote_path]),
        "truth": truth,
        "n_records": n,
    }


STOPWORDS = ("the", "a", "of", "and", "in")  # operators/text_analysis.py


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(3, 10))
        w = "".join(rng.choice(letters, k))
        if w not in STOPWORDS:
            words.add(w)
    return sorted(words)


def write_corpus(out_dir: str, shape: CorpusShape, seed: int) -> dict:
    """Docs parquet; returns paths, digest and ground truth."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_vocabulary(rng, 5000))
    weights = 1.0 / (np.arange(len(vocab)) + 20.0)
    weights /= weights.sum()

    def doc_tokens(n_tok: int) -> list[str]:
        toks = list(rng.choice(vocab, n_tok, p=weights))
        # >= 6% stopwords keeps every long doc above the gate's 2% floor
        n_stop = max(1, int(np.ceil(0.06 * n_tok)))
        for pos in rng.choice(n_tok, n_stop, replace=False):
            toks[int(pos)] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        return toks

    def with_pii(toks: list[str], j: int) -> list[str]:
        kind = j % 3
        if kind == 0:
            pii = [f"user{j}@mail{j % 7}.example.org"]
        elif kind == 1:
            pii = [f"10.{j % 250}.{(j // 250) % 250}.{j % 97}"]
        else:
            pii = ["+1", f"{200 + j % 700}", f"{100000 + j % 899999}"]
        at = int(rng.integers(0, len(toks)))
        return toks[:at] + pii + toks[at:]

    texts: list[list[str]] = []
    short = rng.random(shape.n_base) < shape.short_share
    for j in range(shape.n_base):
        n_tok = int(rng.integers(20, 45)) if short[j] else int(rng.integers(60, 180))
        toks = doc_tokens(n_tok)
        if rng.random() < shape.pii_share:
            toks = with_pii(toks, j)
        texts.append(toks)

    long_ids = np.flatnonzero(~short)
    n_exact = int(shape.exact_share * shape.n_base)
    n_near = int(shape.near_share * shape.n_base)
    n_far = int(shape.far_share * shape.n_base)
    picked = rng.choice(long_ids, n_exact + n_near + n_far, replace=False)
    exact_src = picked[:n_exact]
    near_src = picked[n_exact:n_exact + n_near]
    far_src = picked[n_exact + n_near:]
    exact_groups: list[list[int]] = []   # positions into texts
    for s in exact_src:
        grp = [int(s)]
        for _ in range(int(rng.integers(1, 3))):
            grp.append(len(texts))
            texts.append(list(texts[int(s)]))
        exact_groups.append(grp)

    def edited(src: int, share: float) -> list[str]:
        toks = list(texts[src])
        k = max(2, int(share * len(toks)))
        # stopwords stay, so the copy passes the gate like its source
        words = [i for i, t in enumerate(toks) if t not in STOPWORDS]
        for pos in rng.choice(words, k, replace=False):
            new = toks[int(pos)]
            while new == toks[int(pos)]:
                new = str(vocab[int(rng.integers(0, len(vocab)))])
            toks[int(pos)] = new
        return toks

    near_pairs: list[tuple[int, int]] = []
    for s in near_src:   # 2 edits in >= 60 tokens: Jaccard >= 0.8
        near_pairs.append((int(s), len(texts)))
        texts.append(edited(int(s), 0.0))
    for s in far_src:    # a quarter of the tokens edited: Jaccard ~ 0.3
        texts.append(edited(int(s), 0.25))

    n = len(texts)
    ids = rng.permutation(n).astype(np.int64) * 3 + 11  # doc_id per position
    order = rng.permutation(n)                          # file row order
    text_str = [" ".join(t) for t in texts]
    table = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([text_str[i] for i in order], pa.string()),
        "lang": pa.array(["en"] * n),
        "source": pa.array([f"src{int(i) % 13}" for i in order]),
        "n_chars": pa.array([len(text_str[i]) for i in order], pa.int64()),
    })
    path = os.path.join(out_dir, DOCS_PARQUET)
    pq.write_table(table, path, row_group_size=4096)

    kept = [i for i in range(n) if i >= shape.n_base or not short[i]]
    dropped_dups = [int(ids[p]) for grp in exact_groups
                    for p in grp if ids[p] != min(ids[q] for q in grp)]
    truth = {
        "n_docs": n,
        "n_gate_kept": len(kept),
        "n_lake": len(kept) - len(dropped_dups),
        "exact_groups": [sorted(int(ids[p]) for p in grp) for grp in exact_groups],
        "near_pairs": [[int(ids[a]), int(ids[b])] for a, b in near_pairs],
    }
    return {
        "paths": {"docs": path},
        "digest": file_digest([path]),
        "truth": truth,
        "n_records": n,
    }
