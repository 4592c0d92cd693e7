"""Stage file listing — the ``LIST @stage`` analogue (ref :104,437).

Uses the Hadoop FileSystem API through the Spark JVM gateway so the same
code path works for ``file://``, ``s3a://``, ``abfss://`` etc.  Listing is
driver-side by design — the reference's planner also runs LIST on the
control plane — and DMS landing layouts are one directory per table, so a
recursive listing of one stage is O(files-in-stage), not O(dataset bytes).

At 100 TB the key lever is that the *watermark filter happens here*, on the
file list, before any Spark read is planned (SURVEY §4: "the single biggest
100 TB-scale lever").  Files are pruned by name, so a CDC run plans a scan
over only the new files.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .session import local_frame


_SCHEME_RX = re.compile(r"^[A-Za-z0-9+.-]+://?")


def normalize_path(path: str) -> str:
    """Strip URI scheme + leading slashes: ``file:/tmp/x`` → ``tmp/x``,
    ``s3a://bucket/k`` → ``bucket/k``.  Hadoop reports listing paths in URI
    form even when the stage was registered as a bare local path, so all
    path comparisons happen in this normalized space."""
    return _SCHEME_RX.sub("", path).lstrip("/")


def relativize(path: str, root: str) -> str:
    """Stage-relative form of ``path`` (e.g. ``erp/customer/LOAD1.csv``)."""
    np, nr = normalize_path(path), normalize_path(root).rstrip("/")
    if nr and np.startswith(nr + "/"):
        return np[len(nr) + 1 :]
    return np


@dataclass(frozen=True)
class FileInfo:
    path: str  # full URI/path
    size: int
    mtime_ms: int  # epoch millis (Hadoop modification time)


def list_stage(
    spark: SparkSession, stage_root: str, pattern: str | None = None
) -> list[FileInfo]:
    """Recursively list files under ``stage_root``; optional regex filter on
    the full path (the reference's ``pattern =>`` option, ref :235,301)."""
    jvm = spark._jvm
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(stage_root)
    fs = jpath.getFileSystem(hconf)
    out: list[FileInfo] = []
    if not fs.exists(jpath):
        return out
    rx = re.compile(pattern) if pattern else None
    it = fs.listFiles(jpath, True)  # recursive
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if rx is not None and not rx.match(p):
            continue
        out.append(FileInfo(path=p, size=st.getLen(), mtime_ms=st.getModificationTime()))
    out.sort(key=lambda f: f.path)
    return out


def listing_df(spark: SparkSession, stage: str, files: list[FileInfo]) -> DataFrame:
    """Files as a DataFrame ``(stage, file, file_date)`` — the shape the
    reference's planner unions per stage (ref :105-109).  ``file`` is
    stage-relative (``<schema>/<table>/<name>.csv``) so the planner's
    prefix join against metadata ``full_path`` is stage-location
    independent.  The listing is a JVM local relation
    (``session.local_frame``): planning over it starts no Python worker
    and no job of its own."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("stage", StringType()),
            StructField("file", StringType()),
            StructField("file_date_ms", LongType()),
        ]
    )
    rows = [(stage, relativize(f.path, stage), f.mtime_ms) for f in files]
    df = local_frame(spark, rows, schema)
    # file_date as timestamp: reference parses S3 HTTP dates (ref :132, F7);
    # Hadoop gives epoch millis, so the fragile to_timestamp(DY, DD MON...)
    # format translation is avoided entirely (SURVEY §2.8 F7).
    return df.withColumn(
        "file_date", (F.col("file_date_ms") / 1000).cast("timestamp")
    ).drop("file_date_ms")
