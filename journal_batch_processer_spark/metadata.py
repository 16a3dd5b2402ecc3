"""File metadata shared by the driver-side memos, the derived tmpdir
fixtures and the scale gates.

Every freshness decision goes through ``file_fingerprint``: an
in-process memo (``memo_get``) keys on it, and an on-disk fixture
(``fixture_dir``) stamps it. Round 3 proved the hazard of gating a
derived fixture on bare existence (a ``_SUCCESS`` / ``.done`` marker,
or a marker that records only the source PATH): the source tables
were regenerated in place and every existence-gated cache silently
kept serving the OLD data. So each fixture is stamped with the
mtime_ns + size of its source files — the freshness contract ``make``
uses — and rebuilt whenever the stamp disagrees.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

MEMO_MAX = 256
_STAMP = ".jbp_fixture_stamp"  # hidden: Spark file listings skip it
_SCRATCH: list[tempfile.TemporaryDirectory] = []


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
    metadata (lazy plans, schemas, trained centroids): at MEMO_MAX a
    wholesale clear."""
    val = memo.get(key)
    if val is None:
        if len(memo) >= MEMO_MAX:
            memo.clear()
        val = memo[key] = build()
    return val


def fixture_root(kind: str, sf_dir: str) -> str:
    """Stable tmpdir root of the ``kind`` fixture derived from ``sf_dir``
    (one per sf basename; ``fixture_dir``'s stamp tells two sf dirs with
    the same basename apart)."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(tempfile.gettempdir(), f"jbp_{kind}_{tag}")


def fixture_dir(root: str, key, sources, build, valid=None) -> str:
    """``root``, a derived fixture directory built from ``sources``.

    Reused as is when its stamp equals ``key`` (JSON-serializable) plus
    the current ``file_fingerprint(sources)`` and ``valid()``, if
    given, is true. Otherwise ``root`` is removed, ``build()`` writes
    it afresh and the stamp is written LAST, so an interrupted build
    is rebuilt on the next call. A missing source raises
    FileNotFoundError before anything is built or stamped: a fixture
    is never stamped from partial inputs."""
    stamp = json.dumps([key, file_fingerprint(sources)], sort_keys=True)
    path = os.path.join(root, _STAMP)
    try:
        with open(path) as fh:
            if fh.read() == stamp and (valid is None or valid()):
                return root
    except (OSError, ValueError):
        pass
    shutil.rmtree(root, ignore_errors=True)
    build()
    os.makedirs(root, exist_ok=True)
    with open(path, "w") as fh:
        fh.write(stamp)
    return root


def scratch_dir(prefix: str) -> str:
    """A fresh directory under the tmpdir for one call's output. The
    lazy DataFrame the call returns reads it, so it lives until the
    interpreter exits and is removed then."""
    d = tempfile.TemporaryDirectory(prefix=prefix, ignore_cleanup_errors=True)
    _SCRATCH.append(d)
    return d.name


def parquet_row_count(path: str) -> int:
    """Exact row count of a parquet file or directory from the footers
    of its data files (no Spark job; ``_SUCCESS`` is skipped)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()
