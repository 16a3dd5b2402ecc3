"""Pure-Python Avro: stdlib container-file codec + Spark 4 DataSource.

The environment ships Avro core JARs but NOT the spark-avro connector,
so ``spark.read.format("avro")`` is unavailable (NOTES r05/r06
recorded the blocker). Spark 4's Python DataSource API turns that
blocker into a feature: this module implements the PUBLIC Apache Avro
1.x Object Container File spec with the stdlib only — zigzag-varint
primitives, record/array/map/union encoding, null and deflate codecs
(Avro deflate is RAW RFC-1951, no zlib header), 16-byte sync markers —
and registers it as the ``avro_py`` format for batch read AND write.

Scale shape: one input partition per container file (Avro's block
structure would even allow sync-marker splitting — each partition
reads independently, nothing is driver-side); the writer emits one
container per Spark partition under the normal commit protocol, so a
1000-executor write produces 1000 well-formed .avro parts in parallel.

Schema subset (what a training pipeline's tabular exports use):
records of boolean/int/long/float/double/string/bytes and their
``["null", T]`` nullable unions. Anything else fails loud with the
unsupported type named.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

_MAGIC = b"Obj\x01"

# ---------------------------------------------------------------- codec


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(buf: bytearray, n: int) -> None:
    z = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def read_long(f) -> int:
    shift = 0
    acc = 0
    while True:
        byte = f.read(1)
        if not byte:
            raise ValueError("avro: truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _zigzag_decode(acc)
        shift += 7
        if shift > 70:
            raise ValueError("avro: varint too long")


def write_bytes(buf: bytearray, b: bytes) -> None:
    write_long(buf, len(b))
    buf.extend(b)


def read_bytes(f) -> bytes:
    n = read_long(f)
    if n < 0:
        raise ValueError("avro: negative byte length")
    b = f.read(n)
    if len(b) != n:
        raise ValueError("avro: truncated bytes")
    return b


def _write_value(buf: bytearray, schema, v) -> None:
    if isinstance(schema, list):  # union
        if v is None:
            if "null" not in schema:
                raise ValueError("avro: None for non-nullable union")
            write_long(buf, schema.index("null"))
            return
        idx = next(
            (i for i, s in enumerate(schema) if s != "null"), None
        )
        if idx is None:
            raise ValueError("avro: union with no non-null branch")
        write_long(buf, idx)
        _write_value(buf, schema[idx], v)
        return
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for field in schema["fields"]:
                _write_value(buf, field["type"], v[field["name"]])
            return
        if t == "array":
            if v:
                write_long(buf, len(v))
                for item in v:
                    _write_value(buf, schema["items"], item)
            write_long(buf, 0)
            return
        if t == "map":
            if v:
                write_long(buf, len(v))
                for k, item in v.items():
                    write_bytes(buf, k.encode("utf-8"))
                    _write_value(buf, schema["values"], item)
            write_long(buf, 0)
            return
        raise NotImplementedError(f"avro: unsupported complex type {t!r}")
    if schema == "null":
        return
    if schema == "boolean":
        buf.append(1 if v else 0)
        return
    if schema in ("int", "long"):
        write_long(buf, int(v))
        return
    if schema == "float":
        buf.extend(struct.pack("<f", float(v)))
        return
    if schema == "double":
        buf.extend(struct.pack("<d", float(v)))
        return
    if schema == "string":
        write_bytes(buf, str(v).encode("utf-8"))
        return
    if schema == "bytes":
        write_bytes(buf, bytes(v))
        return
    raise NotImplementedError(f"avro: unsupported type {schema!r}")


def _read_value(f, schema):
    if isinstance(schema, list):  # union
        idx = read_long(f)
        if not 0 <= idx < len(schema):
            raise ValueError(f"avro: union index {idx} out of range")
        branch = schema[idx]
        if branch == "null":
            return None
        return _read_value(f, branch)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {
                field["name"]: _read_value(f, field["type"])
                for field in schema["fields"]
            }
        if t == "array":
            out = []
            while True:
                n = read_long(f)
                if n == 0:
                    return out
                if n < 0:  # block with byte size prefix
                    n = -n
                    read_long(f)  # skip size
                for _ in range(n):
                    out.append(_read_value(f, schema["items"]))
        if t == "map":
            out = {}
            while True:
                n = read_long(f)
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    read_long(f)
                for _ in range(n):
                    k = read_bytes(f).decode("utf-8")
                    out[k] = _read_value(f, schema["values"])
        raise NotImplementedError(f"avro: unsupported complex type {t!r}")
    if schema == "null":
        return None
    if schema == "boolean":
        b = f.read(1)
        if not b:
            raise ValueError("avro: truncated boolean")
        return b[0] == 1
    if schema in ("int", "long"):
        return read_long(f)
    if schema == "float":
        return struct.unpack("<f", f.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", f.read(8))[0]
    if schema == "string":
        return read_bytes(f).decode("utf-8")
    if schema == "bytes":
        return read_bytes(f)
    raise NotImplementedError(f"avro: unsupported type {schema!r}")


def write_container(
    path: str,
    schema: dict,
    records,
    codec: str = "deflate",
    sync: bytes = b"\x00\x01\x02\x03\x04\x05\x06\x07"
    b"\x08\x09\x0a\x0b\x0c\x0d\x0e\x0f",
    block_records: int = 1000,
) -> int:
    """Write an Avro Object Container File; returns the record count.
    ``sync`` is fixed by default so fixture bytes are deterministic."""
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro: codec {codec!r} unsupported")
    if len(sync) != 16:
        raise ValueError("avro: sync marker must be 16 bytes")
    out = bytearray(_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    write_long(out, len(meta))
    for k, v in sorted(meta.items()):
        write_bytes(out, k.encode())
        write_bytes(out, v)
    write_long(out, 0)
    out.extend(sync)

    n_total = 0
    block: list = []

    def flush_block():
        nonlocal n_total
        if not block:
            return
        body = bytearray()
        for rec in block:
            _write_value(body, schema, rec)
        data = bytes(body)
        if codec == "deflate":
            # Avro deflate is RAW RFC-1951 (no zlib header/checksum)
            data = zlib.compress(data, 6)[2:-4]
        write_long(out, len(block))
        write_long(out, len(data))
        out.extend(data)
        out.extend(sync)
        n_total += len(block)
        block.clear()

    for rec in records:
        block.append(rec)
        if len(block) >= block_records:
            flush_block()
    flush_block()
    with open(path, "wb") as f:
        f.write(bytes(out))
    return n_total


def read_container(path: str):
    """Yield records from an Avro Object Container File; fails loud on
    bad magic, unknown codec, or sync-marker mismatch."""
    with open(path, "rb") as fh:
        data = fh.read()
    f = io.BytesIO(data)
    if f.read(4) != _MAGIC:
        raise ValueError("avro: bad container magic")
    meta = {}
    while True:
        n = read_long(f)
        if n == 0:
            break
        if n < 0:
            n = -n
            read_long(f)
        for _ in range(n):
            k = read_bytes(f).decode()
            meta[k] = read_bytes(f)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro: codec {codec!r} unsupported")
    sync = f.read(16)
    if len(sync) != 16:
        raise ValueError("avro: truncated sync marker")
    while True:
        head = f.read(1)
        if not head:
            return
        f.seek(-1, 1)
        count = read_long(f)
        size = read_long(f)
        body = f.read(size)
        if len(body) != size:
            raise ValueError("avro: truncated block")
        if codec == "deflate":
            body = zlib.decompress(body, -15)
        bf = io.BytesIO(body)
        for _ in range(count):
            yield _read_value(bf, schema)
        if f.read(16) != sync:
            raise ValueError("avro: sync marker mismatch")


def container_schema(path: str) -> dict:
    with open(path, "rb") as fh:
        f = fh
        if f.read(4) != _MAGIC:
            raise ValueError("avro: bad container magic")
        meta = {}
        while True:
            n = read_long(f)
            if n == 0:
                break
            if n < 0:
                n = -n
                read_long(f)
            for _ in range(n):
                k = read_bytes(f).decode()
                meta[k] = read_bytes(f)
        return json.loads(meta["avro.schema"].decode())


# ------------------------------------------------- Spark DataSource

_AVRO_TO_DDL = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "bytes": "binary",
}


def avro_schema_to_ddl(schema: dict) -> str:
    if schema.get("type") != "record":
        raise NotImplementedError("avro_py: top-level schema must be a record")
    parts = []
    for field in schema["fields"]:
        t = field["type"]
        if isinstance(t, list):
            nonnull = [s for s in t if s != "null"]
            if len(nonnull) != 1 or not isinstance(nonnull[0], str):
                raise NotImplementedError(
                    f"avro_py: unsupported union {t!r}"
                )
            t = nonnull[0]
        if not isinstance(t, str) or t not in _AVRO_TO_DDL:
            raise NotImplementedError(f"avro_py: unsupported type {t!r}")
        parts.append(f"{field['name']} {_AVRO_TO_DDL[t]}")
    return ", ".join(parts)


def _avro_paths(path: str) -> list[str]:
    if os.path.isdir(path):
        commits = os.path.join(path, "_commits")
        if os.path.isdir(commits):
            # streaming-sink output: only COMMITTED parts are visible
            # (the per-batch manifests written at epoch commit — the
            # same exactly-once read contract as the parquet sink's
            # _spark_metadata log)
            names: list[str] = []
            for mf in sorted(os.listdir(commits)):
                with open(os.path.join(commits, mf)) as f:
                    names.extend(
                        ln.strip() for ln in f if ln.strip()
                    )
            return [os.path.join(path, n) for n in sorted(names)]
        return sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if n.endswith(".avro")
        )
    return [path]


def make_avro_source():
    """Build the DataSource class lazily (pyspark import at call time)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamWriter,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )

    class _AvroPartition(InputPartition):
        def __init__(self, path: str):
            self.path = path

    class AvroReader(DataSourceReader):
        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("avro_py: path option required")

        def partitions(self):
            return [_AvroPartition(p) for p in _avro_paths(self.path)]

        def read(self, partition):
            schema = container_schema(partition.path)
            names = [f["name"] for f in schema["fields"]]
            for rec in read_container(partition.path):
                yield tuple(rec[n] for n in names)

    class _AvroCommit(WriterCommitMessage):
        def __init__(self, path: str, n: int):
            self.path = path
            self.n = n

    class AvroWriter(DataSourceWriter):
        def __init__(self, options, ddl_schema):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("avro_py: path option required")
            self.ddl = ddl_schema

        def write(self, iterator):
            import uuid

            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx else 0
            fields = []
            for f in self.ddl.fields:
                t = f.dataType.typeName()
                avro_t = {
                    "boolean": "boolean", "integer": "int", "long": "long",
                    "float": "float", "double": "double", "string": "string",
                    "binary": "bytes",
                }.get(t)
                if avro_t is None:
                    raise NotImplementedError(
                        f"avro_py: unsupported write type {t!r}"
                    )
                fields.append(
                    {"name": f.name, "type": ["null", avro_t]
                     if f.nullable else avro_t}
                )
            schema = {"type": "record", "name": "row", "fields": fields}
            names = [f["name"] for f in fields]
            os.makedirs(self.path, exist_ok=True)
            part = os.path.join(
                self.path, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.avro"
            )
            n = write_container(
                part, schema,
                (dict(zip(names, row)) for row in iterator),
            )
            return _AvroCommit(part, n)

        def commit(self, messages):
            pass

        def abort(self, messages):
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.unlink(m.path)

    class AvroStreamWriter(DataSourceStreamWriter):
        """Per-micro-batch Avro containers under the two-phase commit:
        tasks write uuid-named parts, the epoch commit records them in
        _commits/<batchId> — and the batch reader lists ONLY committed
        parts, so a replayed/aborted epoch never leaks rows into a
        read (exactly-once end to end with the source's replayable
        offsets)."""

        def __init__(self, options, ddl_schema):
            self._batch = AvroWriter(options, ddl_schema)
            self.path = self._batch.path

        def write(self, iterator):
            return self._batch.write(iterator)

        def commit(self, messages, batchId):
            d = os.path.join(self.path, "_commits")
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(d, f".{batchId}.tmp")
            with open(tmp, "w") as f:
                for m in messages:
                    if m is not None:
                        f.write(os.path.basename(m.path) + "\n")
            os.replace(tmp, os.path.join(d, str(batchId)))

        def abort(self, messages, batchId):
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.unlink(m.path)

    class AvroPySource(DataSource):
        """``avro_py``: Object Container File batch read/write."""

        @classmethod
        def name(cls) -> str:
            return "avro_py"

        def schema(self) -> str:
            path = self.options.get("path")
            if not path:
                raise ValueError("avro_py: path option required")
            paths = _avro_paths(path)
            if not paths:
                raise ValueError(f"avro_py: no .avro files under {path}")
            return avro_schema_to_ddl(container_schema(paths[0]))

        def reader(self, schema):
            return AvroReader(self.options)

        def writer(self, schema, overwrite):
            return AvroWriter(self.options, schema)

        def streamWriter(self, schema, overwrite):
            return AvroStreamWriter(self.options, schema)

    return AvroPySource
