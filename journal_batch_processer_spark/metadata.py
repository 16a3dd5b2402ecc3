"""File metadata shared by the driver-side memos and scale gates."""

from __future__ import annotations

import os

MEMO_MAX = 256


def file_fingerprint(paths) -> tuple:
    """((path, st_mtime_ns, st_size), ...) for ``paths``: a same-size
    rewrite misses even within one millisecond. Raises OSError on a
    missing file (callers then resolve uncached)."""
    out = []
    for p in paths:
        st = os.stat(p)
        out.append((p, st.st_mtime_ns, st.st_size))
    return tuple(out)


def memo_get(memo: dict, key, build):
    """``memo[key]``, built by ``build()`` on a miss. Entries are small
    metadata (lazy plans, schemas): at MEMO_MAX a wholesale clear."""
    val = memo.get(key)
    if val is None:
        if len(memo) >= MEMO_MAX:
            memo.clear()
        val = memo[key] = build()
    return val


def parquet_row_count(path: str) -> int:
    """Exact row count of a parquet file or directory from the footers
    of its data files (no Spark job; ``_SUCCESS`` is skipped)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()
