"""DMS ORC stage reader — third stage file format.

The reference's metadata carries a per-table ``file_format`` column
(ref control_migration_schema_script.sql:26); Snowflake's COPY INTO —
the load primitive the reference's procedures generate — accepts ORC
alongside CSV/Parquet/Avro/XML, so an ORC landing zone is a first-class
stage layout even though the reference's own procedures hardcode CSV.
Contract is identical to ``parquet_stage.read_stage_parquet``:

- columns are POSITIONAL against the target schema (ORC is
  self-describing with an *ordered* struct, so file column order is the
  position; CDC files prepend the 1-char op column, ref :291,341-348);
- ``_dms_filename`` / ``_dms_rownum`` mirror metadata$filename /
  metadata$file_row_number (ref :382,388-389).

Ordering under file SPLITTING: ORC has no ``_metadata.row_index``
(that hidden field is parquet-only); the rownum reconstructs through
the shared split-safe ``(file_block_start, mono-id)`` window
(``sources/filemeta.py``) — correct under any splitting/bin-packing,
so big ORC stage files keep full scan parallelism (unlike the CSV
reader, which must force one split per file). That is the property the
CDC merge's (filename, rownum) versioning depends on at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import local_frame
from .filemeta import positional_cast, with_split_safe_rownum


def read_stage_orc(
    spark: SparkSession,
    files: list[str],
    schema: StructType,
    with_file_metadata: bool = False,
) -> DataFrame:
    """Read an explicit (driver-pruned) list of stage ORC files,
    positionally cast to ``schema``. The caller prunes ``files`` by
    watermark before this call — already-loaded files are never
    scanned."""
    if not files:
        return local_frame(spark, [], schema)
    # NB: unlike .parquet(*paths), DataFrameReader.orc takes the list
    raw = spark.read.orc(files)
    cols = positional_cast(raw, schema, "orc")
    if with_file_metadata:
        return with_split_safe_rownum(raw, cols)
    return raw.select(*cols)
