"""DMS parquet stage reader — the second stage file format.

The reference's metadata carries a per-table ``file_format`` column
(ref control_migration_schema_script.sql:26) even though its load
procedures hardcode ``.csv`` patterns; DMS itself targets S3 as either
CSV or Parquet. This reader gives the parquet flavor the SAME contract
as ``csv_stage.read_stage_csv``:

- columns are POSITIONAL against the target schema (CDC files prepend a
  1-char op column — DMS names it ``Op``, but position, not name, is the
  contract, exactly like the CSV ``$1..$n`` semantics, ref :291,341-348);
  each position is cast to the target column's type and renamed;
- file-metadata virtual columns ``_dms_filename`` / ``_dms_rownum``
  mirror metadata$filename / metadata$file_row_number (ref :382,388-389).

Unlike the CSV reader — which must force one split per file so a window
over ``monotonically_increasing_id`` reconstructs intra-file order —
parquet gets the row number natively from Spark's ``_metadata.row_index``
(per-file, 0-based, stable under file SPLITTING), so big parquet stage
files can split across tasks and the (filename, rownum) total order the
CDC merge versions by still holds. No window, no shuffle, no split
constraint.

``on_error`` modes don't apply: parquet is self-describing, so a type
mismatch fails the cast visibly (failfast semantics by construction)
rather than yielding silently-NULL fields.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import local_frame


def read_stage_parquet(
    spark: SparkSession,
    files: list[str],
    schema: StructType,
    with_file_metadata: bool = False,
) -> DataFrame:
    """Read an explicit (driver-pruned) list of stage parquet files,
    positionally cast to ``schema``. The caller prunes ``files`` by
    watermark before this call — already-loaded files are never
    scanned."""
    if not files:
        return local_frame(spark, [], schema)
    raw = spark.read.parquet(*files)
    src = raw.columns
    if len(src) != len(schema.fields):
        raise ValueError(
            f"stage parquet has {len(src)} columns, target schema needs "
            f"{len(schema.fields)} (positional contract)"
        )
    cols = [
        F.col(src[i]).cast(f.dataType).alias(f.name)
        for i, f in enumerate(schema.fields)
    ]
    if with_file_metadata:
        return raw.select(
            *cols,
            F.col("_metadata.file_path").alias("_dms_filename"),
            (F.col("_metadata.row_index") + 1).alias("_dms_rownum"),
        )
    return raw.select(*cols)
