"""DMS Avro stage reader.

Snowflake's COPY INTO (ref control_migration_schema_script.sql:291)
accepts Avro stage files. Spark's Avro support is the EXTERNAL
``spark-avro`` module (external since Spark 2.4): the core ``avro-*``
jars ship with pyspark but the DataSource itself does not. Two paths:

- **spark-avro present** (the 100 TB scale path): the native DataSource
  scan, positional cast, split-safe row numbers — identical contract to
  the parquet/ORC readers. Deploy
  ``org.apache.spark:spark-avro_2.13:<spark-version>`` via
  ``spark.jars.packages``.
- **fallback** (no module): a pure-stdlib Avro Object Container File
  decoder over Spark's built-in ``binaryFile`` source + ``mapInPandas``
  — still DISTRIBUTED (one task per file, Arrow-batched, no driver
  collect), covering the DMS stage subset: records of primitives
  (null/boolean/int/long/float/double/string) and nullable unions,
  ``null``, ``deflate`` and ``snappy`` codecs (snappy via the
  pure-Python raw-format codec in ``snappy_pure`` — CRC-checked per
  the Avro spec). The OCF layout and binary encoding
  are the public Avro 1.11 spec (zigzag-varint longs, little-endian
  IEEE floats, length-prefixed UTF-8, sync-marker-delimited blocks).
  Each task holds one whole stage file — fine for DMS-sized CDC files;
  the module path is the one for multi-GB files.

Both paths preserve file order, so the positional ``$1..$n`` cast and
the ``(_dms_filename, _dms_rownum)`` latest-wins total order apply
unchanged (ref :307-348, :382).
"""

from __future__ import annotations

import io
import json
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import local_frame
from .filemeta import positional_cast, with_split_safe_rownum

_MAGIC = b"Obj\x01"
_PRIMITIVES = ("null", "boolean", "int", "long", "float", "double", "string")


# Probe result per Spark application: module presence cannot change
# within a running JVM, and a continuous avro incremental_load must not
# pay a driver-side format-resolution failure per batch.
_PROBE_CACHE: dict[str, bool] = {}


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro DataSource module is deployed.

    Probes the real DataSource lookup ONCE per application (a schema'd
    load of a deliberately-nonexistent path: a missing MODULE fails
    with FAILED_TO_FIND_DATA_SOURCE before the path is ever touched;
    any other error means the format resolved). A bare
    ``Class.forName("...AvroFileFormat")`` is NOT a valid probe — some
    distributions ship avro classes on the classpath without
    registering the DataSource, and the lookup still fails."""
    key = spark.sparkContext.applicationId
    if key in _PROBE_CACHE:
        return _PROBE_CACHE[key]
    try:
        spark.read.format("avro").schema("__probe INT").load(
            "/__avro_module_probe_nonexistent__"
        )
        ok = True
    except Exception as e:  # noqa: BLE001 — classify by error text
        msg = str(e)
        ok = not (
            "Failed to find data source" in msg
            or "FAILED_TO_FIND_DATA_SOURCE" in msg
        )
    _PROBE_CACHE[key] = ok
    return ok


# --------------------------------------------------------------- #
# stdlib Object Container File codec (the public Avro 1.11 layout) #
# --------------------------------------------------------------- #


class _Bin:
    __slots__ = ("b", "pos")

    def __init__(self, b: bytes):
        self.b = b
        self.pos = 0

    def eof(self) -> bool:
        return self.pos >= len(self.b)

    def read(self, n: int) -> bytes:
        if self.pos + n > len(self.b):
            raise ValueError("truncated avro data")
        out = self.b[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_long(self) -> int:
        # zigzag varint (spec: variable-length + zigzag)
        shift = 0
        acc = 0
        while True:
            if self.pos >= len(self.b):
                raise ValueError("truncated avro varint")
            byte = self.b[self.pos]
            self.pos += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())


def _field_decoders(schema: dict):
    """(names, per-field decoder) for a flat record schema; raises on
    anything outside the DMS stage subset so the caller's guidance to
    deploy spark-avro fires instead of a silent misread."""
    if schema.get("type") != "record":
        raise ValueError(
            f"avro fallback reads record schemas, got {schema.get('type')!r}"
        )

    def prim(t: str):
        if t == "null":
            return lambda d: None
        if t == "boolean":
            return lambda d: d.read(1) != b"\x00"
        if t in ("int", "long"):
            return _Bin.read_long
        if t == "float":
            return lambda d: struct.unpack("<f", d.read(4))[0]
        if t == "double":
            return lambda d: struct.unpack("<d", d.read(8))[0]
        if t == "string":
            return lambda d: d.read_bytes().decode("utf-8")
        raise ValueError(
            f"avro fallback does not decode type {t!r} — deploy the "
            "spark-avro module for the full type surface"
        )

    def of(t):
        if isinstance(t, dict):  # logical types annotate a base primitive
            return of(t["type"])
        if isinstance(t, str):
            return prim(t)
        if isinstance(t, list):  # union: branch index prefixes the value
            branches = [of(b) for b in t]

            def du(d, branches=branches):
                return branches[d.read_long()](d)

            return du
        raise ValueError(f"avro fallback does not decode schema {t!r}")

    names = [f["name"] for f in schema["fields"]]
    decs = [of(f["type"]) for f in schema["fields"]]
    return names, decs


def decode_container(blob: bytes) -> tuple[list[str], list[tuple]]:
    """Decode one Avro OCF into (field names, rows in file order)."""
    d = _Bin(blob)
    if d.read(4) != _MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = d.read_long()
        if n == 0:
            break
        if n < 0:  # negative block count: a byte size follows (spec)
            n = -n
            d.read_long()
        for _ in range(n):
            k = d.read_bytes().decode("utf-8")
            meta[k] = d.read_bytes()
    sync = d.read(16)
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(
            f"avro fallback supports null/deflate/snappy codecs, got "
            f"{codec!r} — deploy the spark-avro module"
        )
    names, decs = _field_decoders(json.loads(meta["avro.schema"]))
    rows: list[tuple] = []
    while not d.eof():
        count = d.read_long()
        data = d.read_bytes()
        if codec == "deflate":
            data = zlib.decompress(data, -15)  # raw deflate, no header
        elif codec == "snappy":
            # Avro spec: snappy blocks carry a 4-byte big-endian CRC32
            # of the UNCOMPRESSED data after the compressed bytes
            from .snappy_pure import snappy_decompress

            if len(data) < 4:
                raise ValueError("avro snappy block too short for CRC")
            data, crc = snappy_decompress(data[:-4]), data[-4:]
            if zlib.crc32(data) != int.from_bytes(crc, "big"):
                raise ValueError("avro snappy block CRC mismatch")
        block = _Bin(data)
        for _ in range(count):
            rows.append(tuple(dec(block) for dec in decs))
        if d.read(16) != sync:
            raise ValueError("avro block sync marker mismatch")
    return names, rows


def write_container(
    path: str,
    names: list[str],
    types: list[str],
    rows: list[tuple],
    codec: str = "null",
    sync: bytes = b"\x00" * 16,
    records_per_block: int = 1000,
) -> None:
    """Minimal OCF writer for FIXTURES (production stage files come from
    DMS itself): primitives + nullable unions, null/deflate/snappy
    codecs (snappy blocks are literal-only — valid, not compact). Each
    ``types`` entry is a primitive name or ``"string?"``-style
    nullable marker."""

    def enc_long(v: int) -> bytes:
        v = (v << 1) ^ (v >> 63)
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    def enc_bytes(b: bytes) -> bytes:
        return enc_long(len(b)) + b

    def enc_val(t: str, v) -> bytes:
        if t.endswith("?"):
            if v is None:
                return enc_long(0)
            return enc_long(1) + enc_val(t[:-1], v)
        if t == "boolean":
            return b"\x01" if v else b"\x00"
        if t in ("int", "long"):
            return enc_long(int(v))
        if t == "float":
            return struct.pack("<f", v)
        if t == "double":
            return struct.pack("<d", v)
        if t == "string":
            return enc_bytes(str(v).encode("utf-8"))
        raise ValueError(f"fixture writer: unsupported type {t!r}")

    fields = [
        {
            "name": n,
            "type": ["null", t[:-1]] if t.endswith("?") else t,
        }
        for n, t in zip(names, types)
    ]
    schema = {"type": "record", "name": "stage_row", "fields": fields}
    buf = io.BytesIO()
    buf.write(_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    buf.write(enc_long(len(meta)))
    for k, v in meta.items():
        buf.write(enc_bytes(k.encode()))
        buf.write(enc_bytes(v))
    buf.write(enc_long(0))
    buf.write(sync)
    for i in range(0, max(len(rows), 1), records_per_block):
        chunk = rows[i : i + records_per_block]
        if not chunk and rows:
            break
        data = b"".join(
            b"".join(enc_val(t, v) for t, v in zip(types, r)) for r in chunk
        )
        if codec == "deflate":
            data = zlib.compress(data)[2:-4]  # strip zlib header+adler
        elif codec == "snappy":
            from .snappy_pure import snappy_compress

            data = snappy_compress(data) + zlib.crc32(data).to_bytes(
                4, "big"
            )
        buf.write(enc_long(len(chunk)))
        buf.write(enc_bytes(data))
        buf.write(sync)
    with open(path, "wb") as f:
        f.write(buf.getvalue())


def decode_binaryfile_frame(raw: DataFrame, schema: StructType) -> DataFrame:
    """Distributed stdlib decode over a ``binaryFile`` frame (one row
    per stage file, batch OR streaming — mapInPandas is stream-capable
    and binaryFile delivers whole files per row, so the EXACT per-file
    row numbers hold under micro-batch replay too): a mapInPandas
    kernel decodes whole OCF files, emitting canonical string renders +
    ``_dms_filename``/``_dms_rownum``, then the positional cast.
    String intermediates mirror the CSV stage's semantics; the renders
    ('true'/'false', repr floats, raw strings) round-trip through
    Spark's cast exactly."""
    import pandas as pd

    n_fields = len(schema.fields)
    mid = StructType(
        [StructField(f"_c{i}", StringType()) for i in range(n_fields)]
        + [
            StructField("_dms_filename", StringType()),
            StructField("_dms_rownum", LongType()),
        ]
    )

    def render(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            # Python repr gives 'inf'/'nan', which Spark's string cast
            # NULLs silently — use the spellings the cast accepts
            if v != v:
                return "NaN"
            if v == float("inf"):
                return "Infinity"
            if v == float("-inf"):
                return "-Infinity"
            return repr(v)
        return v if isinstance(v, str) else repr(v)

    def kernel(batches):
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                names, rows = decode_container(bytes(content))
                if len(names) != n_fields:
                    raise ValueError(
                        f"stage avro has {len(names)} columns, target "
                        f"schema needs {n_fields} (positional contract)"
                    )
                yield pd.DataFrame(
                    {
                        **{
                            f"_c{i}": [render(r[i]) for r in rows]
                            for i in range(n_fields)
                        },
                        "_dms_filename": [path] * len(rows),
                        "_dms_rownum": list(range(1, len(rows) + 1)),
                    }
                )

    decoded = raw.select("path", "content").mapInPandas(kernel, mid)
    cols = [
        F.col(f"_c{i}").cast(f.dataType).alias(f.name)
        for i, f in enumerate(schema.fields)
    ]
    return decoded.select(*cols, "_dms_filename", "_dms_rownum")


def _read_stage_avro_fallback(
    spark: SparkSession,
    files: list[str],
    schema: StructType,
    with_file_metadata: bool,
) -> DataFrame:
    out = decode_binaryfile_frame(
        spark.read.format("binaryFile").load(files), schema
    )
    if with_file_metadata:
        return out
    return out.drop("_dms_filename", "_dms_rownum")


def read_stage_avro(
    spark: SparkSession,
    files: list[str],
    schema: StructType,
    with_file_metadata: bool = False,
) -> DataFrame:
    """Read an explicit (driver-pruned) list of stage Avro files,
    positionally cast to ``schema``. Uses the native spark-avro scan
    when the module is deployed; otherwise the distributed stdlib
    fallback (module docstring)."""
    if not files:
        return local_frame(spark, [], schema)
    if not avro_available(spark):
        return _read_stage_avro_fallback(
            spark, files, schema, with_file_metadata
        )
    raw = spark.read.format("avro").load(files)
    cols = positional_cast(raw, schema, "avro")
    if with_file_metadata:
        return with_split_safe_rownum(raw, cols)
    return raw.select(*cols)
