"""DMS XML stage reader — named-column stage format.

Snowflake's COPY INTO (the load primitive the reference's procedures
generate, ref control_migration_schema_script.sql:291,341-348) accepts
XML stage files; Spark 4 ships a native ``xml`` file source (the former
spark-xml package, now built in), so the format costs no extra jar.

XML is the one stage format where the POSITIONAL contract cannot hold:
an XML record's fields are addressed by ELEMENT NAME, and Spark's
schema inference even returns fields alphabetically — file "column
order" does not exist. The contract here is therefore NAMED: the stage
files' row elements must carry the target schema's field names (matched
with Spark's default case-insensitive resolution, so DMS's ``Op`` /
``OP`` both satisfy the ``op`` field of ``csv_stage.cdc_schema``).
Passing the schema to the reader makes the parser pull each field by
name and cast to its type — missing elements become NULL (an empty
``<el></el>`` string element is "" — see the property suite), exactly
Snowflake's ``$1:name::type`` semantics for semi-structured stages.

File-metadata virtual columns (ref metadata$filename /
metadata$file_row_number, :382,388-389) use the same split-safe
reconstruction as the ORC reader: window over ``_metadata.file_path``
ordered by ``(_metadata.file_block_start, monotonically_increasing_id)``
— correct under any file splitting/bin-packing, so large XML landings
keep full scan parallelism.

``on_error`` mirrors the COPY INTO error contract implemented for CSV
(``csv_stage.read_stage_csv``): permissive / failfast / quarantine, the
last via Spark's ``columnNameOfCorruptRecord`` channel; split results
with ``csv_stage.split_quarantine``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..session import local_frame

from .csv_stage import CORRUPT_COL
from .filemeta import with_split_safe_rownum

DEFAULT_ROW_TAG = "row"


def read_stage_xml(
    spark: SparkSession,
    files: list[str],
    schema: StructType,
    with_file_metadata: bool = False,
    on_error: str = "permissive",
    row_tag: str = DEFAULT_ROW_TAG,
) -> DataFrame:
    """Read an explicit (driver-pruned) list of stage XML files, fields
    resolved BY NAME against ``schema`` (see module docstring — XML has
    no stable file column order). The caller prunes ``files`` by
    watermark before this call."""
    if on_error not in ("permissive", "failfast", "quarantine"):
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
        .option("rowTag", row_tag)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .format("xml")
    )
    if with_file_metadata:
        raw = reader.load(files)
        return with_split_safe_rownum(raw, [F.col(c) for c in raw.columns])
    return reader.load(files)
