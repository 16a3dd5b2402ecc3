"""Stage-prefixed CSV sink.

The reference writes comma-joined lines to ``<prefix><input-name>``
with earlier ``f_``/``s_`` prefixes stripped first (BatchUpdate.py:
782-816; note its ``suc_``/``err_`` strip at :789 is dead code — the
2-char slice test never matches a 4-char prefix — the engine fixes
that, with ``strict_reference_mode`` keeping the buggy behavior).

Spark writes a directory of part files; ``single_file=True`` coalesces
to one partition for small-batch parity with the reference. At 100 TB
you never coalesce — the default path writes partitioned output.

The CSV datasource has no struct, array or map type, so such columns
(the update stage's merged ``item`` record) are written as their
``to_json`` text.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType


def stage_output_name(prefix: str, input_name: str, strict_reference_mode: bool = False) -> str:
    """``f_``/``s_`` prefixes are stripped before prepending the new one;
    the reference never strips ``suc_``/``err_`` (bug at :789)."""
    base = os.path.basename(input_name)
    if base[:2] in ("f_", "s_"):
        base = base[2:]
    elif not strict_reference_mode and base[:4] in ("suc_", "err_"):
        base = base[4:]
    return prefix + base


def write_stage_csv(
    df: DataFrame,
    out_dir: str,
    prefix: str,
    input_name: str,
    single_file: bool = False,
    strict_reference_mode: bool = False,
) -> str:
    """Write the stage output, returning the output path."""
    name = stage_output_name(prefix, input_name, strict_reference_mode)
    path = os.path.join(out_dir, name)
    nested = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (StructType, ArrayType, MapType))
    ]
    if nested:
        df = df.withColumns({c: F.to_json(F.col(f"`{c}`")) for c in nested})
    writer = df.coalesce(1) if single_file else df
    (
        writer.write.mode("overwrite")
        .option("header", True)
        .option("emptyValue", "")
        .option("quoteAll", False)
        .csv(path)
    )
    return path
