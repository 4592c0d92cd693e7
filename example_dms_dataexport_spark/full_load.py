"""full_load analogue (ref :215-259): truncate-and-reload one table.

Reference flow: look up metadata by full_path (:221-223) → build the
full-load file pattern ``.*/<schema>/<table>/LOAD[0-9]+\\.csv`` (:235) →
TRUNCATE target (:242, to defeat Snowflake's COPY load-history and make
re-runs idempotent) → COPY INTO (:243) → reset watermarks
``last_full_load_date = SYSDATE(), last_incremental_file = '0'`` (:244).

Spark: an overwrite-mode write *is* the truncate+copy, atomically — a
failed job leaves the previous table intact (strictly stronger than the
reference's TRUNCATE-then-COPY window).  Schema comes from the registered
target (or an explicit StructType on first load), applied directly in the
CSV read — the positional-cast generation of ref :341-348.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from .listing import list_stage
from .metadata import MetadataStore, source_ordered
from .sources.stage import read_stage, stage_extension
from .sources.warehouse import ParquetWarehouse

# ref :235 — full-load file pattern within the table directory; the
# extension follows the table's metadata file_format (ref :26).
FULL_LOAD_PATTERN = r".*/{schema}/{table}/LOAD[0-9]+\.{ext}"


def full_load(
    spark: SparkSession,
    store: MetadataStore,
    warehouse: ParquetWarehouse,
    full_path: str,
    schema: StructType | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """Run one full load; returns rows loaded (ref :255 returns the same).

    ``schema``: required on first load; later loads introspect the existing
    target (``information_schema.columns`` analogue, ref :307-321).

    The table's DECLARED layout (``TableMeta.layout()``, from the
    metadata variant column) is applied to the overwrite: partitioning,
    range/Z-order clustering and the zone-map stat columns — so a full
    reload always lands in the registered read-optimized shape. An
    explicit ``partition_by`` argument overrides the declared one.
    """
    meta = store.get(full_path)
    if meta is None:
        raise KeyError(f"full_path {full_path!r} not registered in metadata")
    if schema is None:
        if not warehouse.exists(meta.target_table):
            raise ValueError(
                f"no schema given and target {meta.target_table!r} does not exist"
            )
        schema = warehouse.schema(meta.target_table)
        if meta.column_order:
            # a partitioned target reads back partition-columns-last;
            # restore the recorded SOURCE order for the positional cast
            schema = StructType(
                [
                    schema[c]
                    for c in source_ordered(
                        schema.fieldNames(), meta.column_order
                    )
                ]
            )
    pattern = FULL_LOAD_PATTERN.format(
        schema=meta.db_schema,
        table=meta.db_table,
        ext=stage_extension(meta.file_format),
    )
    files = [f.path for f in list_stage(spark, meta.stage, pattern)]
    df = read_stage(spark, files, schema, file_format=meta.file_format)
    lay = meta.layout()
    spec = warehouse.bucket_spec(meta.target_table)
    if spec is None and lay.get("bucket_by"):
        # declared bucket layout, first load: CREATE the co-located
        # layout from the control metadata — the same
        # declared-once-honored-everywhere contract as
        # stat_cols/bloom_cols; afterwards the persisted spec governs
        # every mutation
        spec = {
            "bucket_by": lay["bucket_by"],
            "n_buckets": lay["n_buckets"],
            "sort_by": lay.get("sort_by") or [],
        }
    if spec is not None:
        # a (re)load of a BUCKETED target rewrites through
        # write_bucketed with the spec — the declared-layout contract,
        # same as the CDC merge path (a plain overwrite would silently
        # degrade the co-located-join layout to flat parquet). The
        # stage read never overlaps the target files, so no pinning is
        # needed here.
        warehouse.write_bucketed(
            df,
            meta.target_table,
            bucket_by=spec["bucket_by"],
            n_buckets=spec["n_buckets"],
            sort_by=spec.get("sort_by") or None,
            # declared zone/bloom manifests build atomically with the
            # data on bucketed layouts too — without the bloom manifest,
            # GDPR/MOR delete discovery on a NON-bucket key exact-scans
            stat_cols=lay.get("stat_cols"),
            bloom_cols=lay.get("bloom_cols"),
        )
    else:
        warehouse.overwrite(
            df,
            meta.target_table,
            partition_by=(
                partition_by if partition_by is not None
                else lay.get("partition_by")
            ),
            cluster_by=lay.get("cluster_by"),
            zorder_by=lay.get("zorder_by"),
            cluster_partitions=lay.get("cluster_partitions"),
            stat_cols=lay.get("stat_cols"),
            bloom_cols=lay.get("bloom_cols"),
        )
    n = warehouse.read(spark, meta.target_table).count()
    # record the SOURCE column order — later positional CDC casts must
    # not follow a partitioned target's re-ordered schema (ref :341-348)
    store.update_column_order(full_path, schema.fieldNames())
    store.update_watermarks(
        full_path,
        last_full_load_date=datetime.now(timezone.utc).isoformat(),
        last_incremental_file="0",  # sentinel reset, ref :244
    )
    return n
