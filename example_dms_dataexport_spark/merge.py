"""apply_changes — the CDC MERGE operator (ref :369-408), pure Spark.

The reference generates one Snowflake MERGE per table:

    MERGE INTO target T USING (latest-wins-deduped changes) S
    ON  T.pk1 = S.pk1 AND ...                 (ref :399-400)
    WHEN MATCHED     AND op =  'D' THEN DELETE        (ref :401-402)
    WHEN MATCHED     AND op <> 'D' THEN UPDATE        (ref :403-404)
    WHEN NOT MATCHED AND op <> 'D' THEN INSERT        (ref :405-407)

Spark has no in-place MERGE on parquet, so the operator is re-expressed as
one full-outer join + row selection (SURVEY §7.3):

    S absent              → keep T            (untouched row)
    S present, op =  'D'  → drop              (delete; absent-T is a no-op)
    S present, T present  → S values          (update)
    S present, T absent   → S values          (insert)

Scale notes (100 TB):
- The join shuffles both sides by PK once; Catalyst/AQE picks sort-merge or
  broadcast (a CDC batch is usually small → broadcast) and splits skewed
  keys.  No driver-side collect anywhere.
- The latest-wins dedup aggregation shrinks the change-set to ≤1 row per
  PK *before* the join (ref :380-397 does the same inside the USING
  clause), with map-side partial aggregation absorbing hot-PK skew.
- Rewrite amplification is bounded by rewriting only the target files
  that can hold a batch key and hard-linking the rest (copy-on-write
  ``replace_files``, see cdc.py and sources/warehouse.py) — not part of
  this operator, which is pure DataFrame → DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OP_COL = "op"
DELETE_OP = "D"


def latest_wins_dedup(
    changes: DataFrame, pks: list[str], version_cols: list[str]
) -> DataFrame:
    """Keep the latest change per PK (ref :380-397).

    The reference ranks by ``metadata$filename DESC, _dms_file_control_rownum
    DESC`` — a total order over change records — and keeps rank 1. Here
    "latest" is the row whose ``version_cols`` tuple is lexicographically
    MAX, computed as ``max_by(struct(all), struct(version_cols))`` in one
    hash aggregation.

    Why an aggregation and not the window it replaced: a rank-1 window
    must shuffle EVERY change row to its PK's partition and sort — a hot
    PK (millions of updates to one row) lands on one task. ``max_by``
    partial-aggregates map-side, so each input partition forwards at most
    one row per PK: the shuffle shrinks to ~|distinct PKs| and the skew is
    absorbed before it can concentrate. Ties are impossible by
    construction — (file, row-in-file) is unique per record (SURVEY §7.5
    trap 2).
    """
    payload = changes.columns
    ver = F.struct(*[F.col(c) for c in version_cols])
    row = F.struct(*[F.col(c) for c in payload])
    return changes.groupBy(*pks).agg(
        F.max_by(row, ver).alias("_latest")
    ).select("_latest.*")


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    pks: list[str],
    op_col: str = OP_COL,
    version_cols: list[str] | None = None,
) -> DataFrame:
    """Apply an I/U/D change-set to ``target``; returns the new target.

    ``changes`` must contain ``op_col`` plus every target column.  When
    ``version_cols`` is given (e.g. ``["_file", "_rownum"]``, ascending
    version order — latest = lexicographic max) the change-set is
    latest-wins deduped first; pass None if it is already ≤1 row per PK.

    Output column order/types = target's schema exactly.
    """
    if not pks:
        raise ValueError("apply_changes requires at least one primary-key column")
    data_cols = target.columns
    missing = [c for c in [op_col, *pks] if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing required columns: {missing}")
    s = changes
    if version_cols is not None:
        s = latest_wins_dedup(s, pks, version_cols)
    s = s.select(op_col, *data_cols)

    t = target.withColumn("_t_exists", F.lit(True)).alias("T")
    s = s.withColumn("_s_exists", F.lit(True)).alias("S")
    # USING-style join on PK names: Spark emits one coalesced column per
    # key even for full_outer — exactly the coalesce(S.pk, T.pk) SURVEY
    # §7.3(c) calls for.
    joined = t.join(s, on=pks, how="full_outer")

    s_exists = F.col("_s_exists").isNotNull() & F.col("_s_exists")
    is_delete = s_exists & (F.col(op_col) == DELETE_OP)
    non_pk = [c for c in data_cols if c not in pks]
    picked = [
        F.when(s_exists, F.col(f"S.{c}")).otherwise(F.col(f"T.{c}")).alias(c)
        for c in non_pk
    ]
    return (
        joined.filter(~is_delete)
        .select(*pks, *picked)
        .select(*data_cols)  # restore target column order
    )
