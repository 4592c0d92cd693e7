"""SparkSession factory tuned for the engine.

Scale notes (100 TB design point):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  one static ``spark.sql.shuffle.partitions`` value survives a 1000x scale-up.
- ``spark.sql.session.timeZone=UTC``: the reference stamps watermarks with
  ``SYSDATE()`` (UTC, control_migration_schema_script.sql:244); all timestamp
  semantics here are UTC so results are cluster-location independent.
- Arrow enabled for the few Pandas-UDF operators (multimodal decode).
- ``parquet.int96RebaseModeInRead`` left default; test data is modern parquet.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The package's parent dir. Local-mode Python WORKERS are forked with the
# driver process's PYTHONPATH environment — a driver that found this
# package via sys.path manipulation (or its cwd) would still fail every
# pandas-UDF task with ModuleNotFoundError when launched from another
# directory, because pickled-by-reference UDFs re-import their module on
# the worker. Exporting the path before the JVM starts makes the engine
# cwd-independent (r19; on a real cluster --py-files/spark.submit.pyFiles
# plays this role).
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_worker_pythonpath() -> None:
    cur = os.environ.get("PYTHONPATH", "")
    parts = cur.split(os.pathsep) if cur else []
    if _PKG_PARENT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([_PKG_PARENT, *parts])


def get_spark(
    app_name: str = "example-dms-dataexport-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster, ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    _ensure_worker_pythonpath()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # canChangeCachedPlanOutputPartitioning stays at its DEFAULT
        # (false). The r19 mid-round sessions set it true to stop
        # ingest appends staging one tiny file per static shuffle
        # partition, but globally it lets AQE coalesce every persisted
        # relation to advisory-SIZE partitions — and the engine's
        # persisted relations (shingle sets, signatures, band keys) are
        # small-byte/large-CPU, so compute downstream of a cache
        # serialized onto 1-2 partitions (measured 2x on q24/q43/q111
        # at sf0.1; the same wrong trade at any scale where bytes-per-
        # partition undercounts CPU). The small-file fix lives where
        # the problem is instead: append_files' staging write
        # rebalances unpartitioned batches too (warehouse.py
        # _cluster_for_partitioned_write), and the ingest streams'
        # first commit opts into the same rebalance at the call site.
        .config("spark.sql.session.timeZone", "UTC")
        # FAIR job scheduling: the runner's N loader threads submit
        # concurrent jobs; FAIR keeps one giant table's load from starving
        # the other workers (ref :510-538's 5-way task parallelism).
        .config("spark.scheduler.mode", "FAIR")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dynamic partition overwrite: CDC rewrites only touched partitions
        # (SURVEY §7.3 scale note) instead of the whole target table.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master is None and not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    elif master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: StructType | str
) -> DataFrame:
    """Driver-side ``rows`` (tuples or ``Row``s, positional against
    ``schema``: a ``StructType`` or a DDL string) as a JVM local relation.

    The engine's one way to turn Python values into a DataFrame. The
    rows become a ``pyarrow.Table`` typed from the Spark schema, which
    ``createDataFrame`` ships to the JVM as a ``LocalRelation``: no
    PythonRDD, so no Python worker starts and collecting the frame runs
    no Spark job. ``createDataFrame`` over a Python list instead
    parallelizes a PythonRDD that forks Python workers on every action
    just to unpickle the rows. Values convert as ``createDataFrame``
    converts them (a naive ``datetime`` is local time, like
    ``TimestampType.toInternal``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for field, col, typ in zip(schema.fields, cols, arrow.types):
        dt = field.dataType
        if dt.needConversion():
            col = [dt.toInternal(v) for v in col]
        arrays.append(pa.array(col, type=typ))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)
