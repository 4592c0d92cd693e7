"""Table profiling — the ANALYZE/statistics-collection surface.

``profile`` computes per-column statistics (row count, null count,
distinct count, numeric min/max, string min/max) in ONE pass over the
table and returns them as a tidy one-row-per-column DataFrame — the
input every cost-based decision in a warehouse needs: join-side sizing,
skew detection, partition-key selection, data-quality monitoring.

Plan shape: a single global aggregation. Multiple exact COUNT(DISTINCT)
columns make Catalyst plan an Expand (one input row fans out to
n_distinct_cols+1 aggregation lanes) feeding one shuffle — the standard
exact-ANALYZE cost, linear in columns profiled. At 100 TB exact NDV per
column is usually overkill: ``approx=True`` swaps in
``approx_count_distinct`` (HyperLogLog++, a few KB of sketch per column,
no Expand), which is what a scheduled stats job should run; the exact
mode exists because it is oracle-checkable bit-for-bit (q54).

The wide one-row aggregate is then unpivoted driver-side into literal
rows — O(columns) work on O(1) collected data, not a per-row collect.

Reference parity: the reference reads Snowflake's
``information_schema.columns`` for schema metadata
(control_migration_schema_script.sql:307-319) and leans on Snowflake's
automatic micro-partition statistics for everything else; here the
statistics collection itself is a first-class operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

from ..session import local_frame

_NUMERIC = (
    ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType, DecimalType,
)


def profile(
    df: DataFrame, cols: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """Per-column stats for ``cols`` (default: all columns).

    Output schema (one row per profiled column):
      col_name, n_rows, n_nulls, ndv, min_num, max_num, min_str, max_str
    min/max_num are populated (as rounded doubles) for numeric columns,
    min/max_str for string columns; both NULL otherwise (timestamps and
    complex types still get counts + NDV).
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = list(cols or df.columns)
    missing = [c for c in cols if c not in fields]
    if missing:
        raise ValueError(f"unknown columns: {missing}")

    ndv = F.approx_count_distinct if approx else F.countDistinct
    aggs: list = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"_cnt_{c}"))
        aggs.append(ndv(F.col(c)).alias(f"_ndv_{c}"))
        if isinstance(fields[c], _NUMERIC):
            aggs.append(F.round(F.min(c).cast("double"), 4).alias(f"_min_{c}"))
            aggs.append(F.round(F.max(c).cast("double"), 4).alias(f"_max_{c}"))
        elif isinstance(fields[c], StringType):
            aggs.append(F.min(c).alias(f"_smin_{c}"))
            aggs.append(F.max(c).alias(f"_smax_{c}"))
    wide = df.agg(*aggs).collect()[0]

    spark = SparkSession.getActiveSession()
    rows = []
    for c in cols:
        rows.append(
            (
                c,
                wide["_n"],
                wide["_n"] - wide[f"_cnt_{c}"],
                wide[f"_ndv_{c}"],
                wide.asDict().get(f"_min_{c}"),
                wide.asDict().get(f"_max_{c}"),
                wide.asDict().get(f"_smin_{c}"),
                wide.asDict().get(f"_smax_{c}"),
            )
        )
    return local_frame(
        spark,
        rows,
        "col_name string, n_rows long, n_nulls long, ndv long,"
        " min_num double, max_num double, min_str string, max_str string",
    )


def equi_width_histogram(df: DataFrame, col: str, k: int = 10) -> DataFrame:
    """Equi-width histogram of a numeric column: k buckets spanning
    [min, max], returning (bucket, lo, hi, n_rows) for non-empty buckets.

    Fully parallel two-pass shape — a 1-row min/max aggregate broadcast
    back over the scan, then one groupBy on the derived bucket — which is
    why it's the histogram a 100 TB stats job runs (an equi-DEPTH
    histogram needs a global sort or quantile sketch; use
    ``approx_percentile`` for that). All-equal columns land in bucket 0.
    NULLs are excluded. Bounds are computed in double exactly as the
    oracle does, so bucket edges match bit-for-bit.
    """
    if k < 1:
        raise ValueError("need k >= 1")
    c = F.col(col).cast("double")
    mm = df.filter(c.isNotNull()).agg(
        F.min(c).alias("_lo"), F.max(c).alias("_hi")
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(k))
    bucket = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(F.floor((c - F.col("_lo")) / width), F.lit(k - 1))
    ).cast("long")
    return (
        df.filter(c.isNotNull())
        .crossJoin(F.broadcast(mm))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.round(F.min(F.col("_lo") + F.col("bucket") * width), 4).alias("lo"),
            F.round(F.min(F.col("_lo") + (F.col("bucket") + 1) * width), 4).alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def sql_equi_width_histogram(table: str, col: str, k: int = 10) -> str:
    """DuckDB twin of ``equi_width_histogram``."""
    return f"""
    WITH mm AS (
        SELECT min(CAST({col} AS DOUBLE)) AS _lo,
               max(CAST({col} AS DOUBLE)) AS _hi
        FROM {table} WHERE {col} IS NOT NULL
    ),
    b AS (
        SELECT CASE WHEN _hi = _lo THEN 0
                    ELSE least(CAST(floor((CAST({col} AS DOUBLE) - _lo)
                                          / ((_hi - _lo) / {k}.0)) AS BIGINT),
                               {k - 1}) END AS bucket,
               _lo, _hi
        FROM {table} CROSS JOIN mm WHERE {col} IS NOT NULL
    )
    SELECT bucket,
           round(min(_lo + bucket * ((_hi - _lo) / {k}.0)), 4) AS lo,
           round(min(_lo + (bucket + 1) * ((_hi - _lo) / {k}.0)), 4) AS hi,
           count(*) AS n_rows
    FROM b GROUP BY bucket
    """


def sql_profile(table: str, cols: list[tuple[str, str]]) -> str:
    """DuckDB twin of ``profile(approx=False)`` for the q54 oracle:
    ``cols`` is [(name, kind)] with kind in {"num", "str", "other"}."""
    parts = []
    for name, kind in cols:
        min_num = max_num = "CAST(NULL AS DOUBLE)"
        min_str = max_str = "CAST(NULL AS VARCHAR)"
        if kind == "num":
            min_num = f"round(CAST(min({name}) AS DOUBLE), 4)"
            max_num = f"round(CAST(max({name}) AS DOUBLE), 4)"
        elif kind == "str":
            min_str, max_str = f"min({name})", f"max({name})"
        parts.append(
            f"SELECT '{name}' AS col_name, count(*) AS n_rows,"
            f" count(*) - count({name}) AS n_nulls,"
            f" count(DISTINCT {name}) AS ndv,"
            f" {min_num} AS min_num, {max_num} AS max_num,"
            f" {min_str} AS min_str, {max_str} AS max_str FROM {table}"
        )
    return " UNION ALL ".join(parts)
