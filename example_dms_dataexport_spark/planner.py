"""prepare_migration_queue analogue (ref :60-157): compute the load plan.

The reference's planner is one generated INSERT..SELECT (ref :113-148):
list every stage, group files by table-directory prefix, compute per group
the latest CDC file (A3) and the full-load file date (A4), inner-join to
DMS metadata on prefix + case-folded stage + a staleness disjunction, and
CASE the result into a load type:

    B  full + incremental needed      (ref :117)
    I  incremental only               (ref :119)
    F  full only                      (ref :120)
    N  nothing                        (ref :121)

``load_plan_df`` is the pure relational core (DataFrame in → DataFrame
out) so it is directly oracle-testable; ``prepare_migration_queue`` is the
driver wrapper that lists real stages and returns the work queue.

Scale: the inputs are file *listings* (one row per file), never data rows,
so the plan computation is O(file count).  Both inputs — the listing and
the metadata rows — are JVM local relations (``session.local_frame``):
a planner tick forks no Python worker, and both sides of the join are
small → Catalyst broadcasts automatically.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .listing import list_stage, listing_df
from .metadata import MetadataStore
from .session import local_frame

# ref :130,139 — strip the file name to get the table directory prefix.
FILE_SUFFIX_RX = r"/(LOAD[0-9]{8}|2[0-9]{7}-[0-9]{9})..*$"
# ref :131,132 — full-load file predicate.
LOAD_FILE_RX = r".*/LOAD.*\..*$"


@dataclass(frozen=True)
class WorkItem:
    """One EXECUTION_QUEUE row (ref :43-48)."""

    full_path: str
    load_type: str  # B | I | F | N
    worker: int  # task_in_charge


def stage_summary_df(listing: DataFrame) -> DataFrame:
    """Group files by (stage, prefix) → latest CDC file + full-load date
    (ref :126-139).

    The reference extracts the file's basename with
    ``substring(file, position('/', file, 6) + 1)`` (ref :131) — fixed
    offset 6 assumes ``s3://b/...``; we extract the basename generically
    (same value for every DMS path).
    """
    file = F.col("file")
    return listing.groupBy(
        "stage",
        F.regexp_replace(file, FILE_SUFFIX_RX, "").alias("file_prefix"),
    ).agg(
        F.max(
            F.when(file.rlike(LOAD_FILE_RX), F.lit("0")).otherwise(
                F.regexp_extract(file, r"([^/]+)$", 1)
            )
        ).alias("last_incremental_file"),
        F.max(
            F.when(file.rlike(LOAD_FILE_RX), F.col("file_date")).otherwise(
                F.lit(None)
            )
        ).alias("full_load_file_date"),
    )


def load_plan_df(
    listing: DataFrame, metadata: DataFrame, task_count: int = 5
) -> DataFrame:
    """The planner INSERT..SELECT (ref :113-148) as a DataFrame.

    ``listing``  columns: stage, file, file_date (timestamp)
    ``metadata`` columns: full_path, stage, last_incremental_file,
                          last_full_load_date (timestamp)

    Returns (full_path, load_type, task_in_charge).  Join = equi on prefix
    + case-folded equi on stage + residual staleness disjunction (ref
    :140-146, SURVEY P7): Catalyst hash-joins the equi part and applies the
    disjunction as a residual filter.  Worker assignment replaces the
    reference's ``uniform(1, n, seq1())`` (ref :123) with deterministic
    ``pmod(xxhash64(full_path), n) + 1`` — stable across runs (SURVEY §4).
    """
    summary = stage_summary_df(listing).alias("stg")
    dms = metadata.alias("dms")
    stale = (
        F.col("stg.last_incremental_file") > F.col("dms.last_incremental_file")
    ) | (F.col("stg.full_load_file_date") > F.col("dms.last_full_load_date"))
    joined = dms.join(
        F.broadcast(summary),
        on=[
            F.col("dms.full_path") == F.col("stg.file_prefix"),
            F.upper(F.col("dms.stage")) == F.upper(F.col("stg.stage")),
            stale,
        ],
        how="inner",
    )
    load_type = (
        F.when(
            (F.col("stg.last_incremental_file") > F.col("dms.last_incremental_file"))
            & (F.col("stg.full_load_file_date") > F.col("dms.last_full_load_date")),
            "B",
        )
        .when(
            F.col("stg.last_incremental_file") > F.col("dms.last_incremental_file"),
            "I",
        )
        .when(
            F.col("stg.full_load_file_date") > F.col("dms.last_full_load_date"), "F"
        )
        .otherwise("N")
    )
    return joined.select(
        F.col("dms.full_path").alias("full_path"),
        load_type.alias("load_type"),
        (F.pmod(F.xxhash64(F.col("dms.full_path")), F.lit(task_count)) + 1)
        .cast("int")
        .alias("task_in_charge"),
    )


def prepare_migration_queue(
    spark: SparkSession, store: MetadataStore, task_count: int = 5
) -> list[WorkItem]:
    """List all registered stages, compute the plan, return the queue.

    The reference's liveness gate (SHOW TASKS, ref :73-90) guards against
    suspended child tasks; our workers are a ThreadPoolExecutor created
    per run, so the gate is trivially satisfied.

    A table never loaded has watermarks (``'0'``, NULL); NULL
    ``last_full_load_date`` is coalesced to epoch here so fresh tables
    plan as 'B'/'F' — the reference leaves the comparison NULL (its
    admitted full-load-only limitation, ref :41-42 comment).
    """
    metas = store.all()
    if not metas:
        return []
    dfs = []
    for stage in store.distinct_stages():
        files = list_stage(spark, stage)
        dfs.append(listing_df(spark, stage, files))
    from functools import reduce

    # Snowflake UNION = UNION DISTINCT (SURVEY §2.7 U1); file paths are
    # unique per stage so distinct() is parity, not correctness.
    listing = reduce(DataFrame.unionByName, dfs).distinct()
    meta_rows = [
        (
            m.full_path,
            m.stage,
            m.last_incremental_file,
            m.last_full_load_date or "1970-01-01T00:00:00",
        )
        for m in metas
    ]
    metadata = local_frame(
        spark,
        meta_rows,
        "full_path string, stage string, last_incremental_file string,"
        " last_full_load_date string",
    ).withColumn("last_full_load_date", F.to_timestamp("last_full_load_date"))
    plan = load_plan_df(listing, metadata, task_count).collect()
    return [
        WorkItem(r["full_path"], r["load_type"], r["task_in_charge"]) for r in plan
    ]
