"""``session.local_frame``: driver-side rows as a JVM local relation.

Pins:
- over a type matrix (NULL in every column, NaN, naive and aware
  timestamps, decimals, binary, nested arrays, zero rows) the builder
  gives the rows and schema ``createDataFrame(list)`` gives;
- its optimized plan is a ``LocalRelation`` and collecting it starts no
  Spark job;
- the planner's listing frame carries no RDD scan;
- no package code calls ``createDataFrame`` except ``local_frame`` (an
  AST scan, no Spark), so no new site brings back the Python-worker job.
"""

from __future__ import annotations

import ast
import datetime as dt
import pathlib
import uuid
from decimal import Decimal

import pytest

import example_dms_dataexport_spark
from example_dms_dataexport_spark.listing import FileInfo, listing_df
from example_dms_dataexport_spark.session import local_frame

_SCHEMA = (
    "l long, i int, d double, s string, b boolean, dd date, ts timestamp, "
    "tsz timestamp, dec decimal(10,2), bin binary, av array<double>, "
    "aav array<array<double>>"
)

_ROWS = [
    (
        1 << 40,
        -7,
        1.5,
        "a",
        True,
        dt.date(2024, 2, 29),
        dt.datetime(2024, 1, 1, 12, 30, 0, 123456),
        dt.datetime(
            2024, 1, 1, 12, tzinfo=dt.timezone(dt.timedelta(hours=2))
        ),
        Decimal("12345678.91"),
        b"\x00\xff",
        [1.0, float("nan"), None],
        [[0.5], [], None],
    ),
    (
        -1,
        0,
        float("nan"),
        "",
        False,
        dt.date(1969, 12, 31),
        dt.datetime(1970, 1, 1),
        dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc),
        Decimal("-0.01"),
        b"",
        [],
        [],
    ),
    (None,) * 12,
]


def _jobs_to_collect(spark, df) -> tuple[list, list[int]]:
    sc = spark.sparkContext
    group = f"local-frame-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "collect a local frame")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, list(sc.statusTracker().getJobIdsForGroup(group))


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["matrix", "zero-rows"])
def test_local_frame_matches_create_data_frame(spark, rows):
    old = spark.createDataFrame(rows, _SCHEMA)
    new = local_frame(spark, rows, _SCHEMA)
    assert new.schema == old.schema
    # repr: NaN never compares equal, but prints the same
    assert repr(new.collect()) == repr(old.collect())


def test_local_frame_takes_a_struct_type_and_rows(spark):
    src = spark.createDataFrame(_ROWS, _SCHEMA)
    rows = src.collect()
    new = local_frame(spark, rows, src.schema)
    assert new.schema == src.schema
    assert repr(new.collect()) == repr(rows)


@pytest.mark.parametrize("rows", [_ROWS, []], ids=["matrix", "zero-rows"])
def test_local_frame_is_a_local_relation_collected_without_a_job(
    spark, rows
):
    df = local_frame(spark, rows, _SCHEMA)
    plan = _optimized(df)
    assert plan.startswith("LocalRelation"), plan
    got, jobs = _jobs_to_collect(spark, df)
    assert len(got) == len(rows)
    assert jobs == []


def test_listing_frame_holds_no_rdd_scan(spark):
    files = [
        FileInfo(f"file:/stage/erp/t/LOAD0000000{i}.csv", 10, 1_700_000_000_000)
        for i in range(1, 4)
    ]
    df = listing_df(spark, "/stage", files)
    plan = _optimized(df)
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan
    got, jobs = _jobs_to_collect(spark, df)
    assert [r.file for r in got] == [
        f"erp/t/LOAD0000000{i}.csv" for i in range(1, 4)
    ]
    assert jobs == []


def test_create_data_frame_is_called_only_by_local_frame():
    pkg = pathlib.Path(example_dms_dataexport_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path == pkg / "session.py":
            fn = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
            )
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert offenders == [], f"build rows with session.local_frame: {offenders}"
