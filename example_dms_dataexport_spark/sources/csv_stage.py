"""DMS CSV stage reader — the external-stage query analogue (ref :359,385-394).

DMS exports are headerless positional CSVs: full-load files carry the
target's columns ($2..$n semantics without op), CDC files prepend a 1-char
op column (``$1::varchar(1) as op``, ref :291).  The reference casts each
positional column to the *target table's* introspected type (ref :341-348);
here the target schema is a StructType and the cast is expressed in the
read schema directly — same semantics, zero per-row Python.

File-metadata virtual columns (ref metadata$filename / metadata$file_row_number,
:382,388-389):
- ``_dms_filename``  ← Spark's hidden ``_metadata.file_path``
- ``_dms_rownum``    ← row_number() over (partition by file order by
  monotonically_increasing_id())

The rownum window is valid because each CSV file is read as a single split:
``monotonically_increasing_id`` is ordered within a partition and Spark's
CSV reader preserves file order within a split (SURVEY §2.5 W3).  Reading
enforces one-split-per-file by disabling file splitting for the read — CDC
batch files are DMS-chunked (≤~100 MB), so a split per file also keeps
partitions executor-sized at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType
from pyspark.sql.window import Window

from ..session import local_frame

OP_FIELD = StructField("op", StringType(), True)


def cdc_schema(target_schema: StructType) -> StructType:
    """op + target columns, positional (ref :291,341-348)."""
    return StructType([OP_FIELD, *target_schema.fields])


CORRUPT_COL = "_corrupt_record"


def read_stage_csv(
    spark: SparkSession,
    files: list[str],
    schema: StructType,
    with_file_metadata: bool = False,
    on_error: str = "permissive",
) -> DataFrame:
    """Read an explicit (driver-pruned) list of positional CSVs.

    The caller prunes ``files`` by watermark *before* this call — the scan
    never touches already-loaded files (SURVEY §4: the biggest scale lever).

    ``on_error`` mirrors the warehouse COPY INTO error contract (the
    reference's loads run Snowflake's default ABORT_STATEMENT):

    - ``"permissive"`` (default): malformed fields become NULLs — the
      lenient mode the positional-cast pipeline has always used;
    - ``"failfast"``: abort the load on the first malformed row
      (ABORT_STATEMENT parity);
    - ``"quarantine"``: keep every row and append ``_corrupt_record``
      holding the raw line for rows that failed the schema — split
      good/bad with ``split_quarantine`` (ON_ERROR = CONTINUE plus an
      errors table, without a second scan).
    """
    if on_error not in ("permissive", "failfast", "quarantine"):
        # a typo must not silently fall through to an aborting FAILFAST load
        raise ValueError(
            f"on_error must be 'permissive', 'failfast' or 'quarantine', "
            f"got {on_error!r}"
        )
    if not files:
        return local_frame(spark, [], schema)
    if on_error == "quarantine":
        schema = StructType(
            [*schema.fields, StructField(CORRUPT_COL, StringType(), True)]
        )
    mode = {"permissive": "PERMISSIVE", "quarantine": "PERMISSIVE"}.get(
        on_error, "FAILFAST"
    )
    reader = (
        spark.read.schema(schema)
        .option("header", "false")
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if with_file_metadata:
        # one split per file → intra-file order is intact for the rownum
        # window below; also the unit of parallelism is the CDC file.
        df = reader.option("multiLine", "true").csv(files)
        df = df.select("*", F.col("_metadata.file_path").alias("_dms_filename"))
        w = Window.partitionBy("_dms_filename").orderBy(
            F.monotonically_increasing_id()
        )
        return df.withColumn("_dms_rownum", F.row_number().over(w))
    return reader.csv(files)


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_rows, bad_rows) for a ``on_error="quarantine"`` read.

    Bad rows keep only the raw ``_corrupt_record`` line (their typed
    columns are NULL-padded noise); good rows drop the marker column.
    The input is cached: one scan serves both sides, and Spark refuses
    to project ONLY the internal corrupt column from a raw CSV scan
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN) unless the relation is cached.
    """
    df = df.cache()
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad
