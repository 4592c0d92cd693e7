"""Zone maps from parquet footers.

The stager builds a table's zone map from the footers it already opens
for row counts (``ParquetWarehouse._footers`` → ``_zonemap``) and runs a
Spark min/max pass only for the (column, file) pairs the footers cannot
describe exactly. These tests pin that the result is the map the Spark
pass alone gives, over the types and file shapes where footers and
Spark could disagree, and that a zone-mapped commit on a footer-exact
column starts no Spark job once its data is written.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import uuid
from decimal import Decimal

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrameWriter

from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse

NAN = float("nan")
SCHEMA = (
    "l long, i int, d double, s string, dt date, ts timestamp, "
    "ntz timestamp_ntz, d10 decimal(10,2), d20 decimal(20,2), p string"
)
STAT_COLS = ["l", "i", "d", "s", "dt", "ts", "ntz", "d10", "d20", "p"]
# the pairs a Spark-written footer describes exactly
FOOTER_EXACT = ["l", "i", "d", "s", "dt", "ntz", "d10", "d20"]


def _row(k: int, p: str, *, d=None, s=None):
    return (
        k * 7 - 50, -k, float(k) / 3 if d is None else d,
        f"v{k:05d}" if s is None else s,
        dt.date(2020, 1, 1) + dt.timedelta(days=k),
        dt.datetime(2021, 1, 1) + dt.timedelta(minutes=k),
        dt.datetime(1999, 12, 31) + dt.timedelta(seconds=k, microseconds=k),
        Decimal(k * 13 - 400) / 100, Decimal(k * 10**15 - 7) / 100, p,
    )


def _spark_pass(spark, base: str, stat_cols, schema) -> dict:
    """The zone map as the stager built it before footers: one Spark
    ``groupBy(_metadata.file_path)`` min/max pass over every file."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in stat_cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    rows = (
        ParquetWarehouse._read_dir(spark, base, schema)
        .groupBy(F.col("_metadata.file_path").alias("__fp"))
        .agg(*aggs)
        .collect()
    )
    stat = ParquetWarehouse._zonemap_stat
    return {
        "stat_cols": list(stat_cols),
        "files": {
            ParquetWarehouse.file_rel(r["__fp"], base): {
                "n": r["__n"],
                **{
                    c: [stat(r[f"__min_{c}"]), stat(r[f"__max_{c}"])]
                    for c in stat_cols
                },
            }
            for r in rows
        },
    }


def _write_matrix(spark, base: str) -> None:
    """One hive-partitioned dir (``p``, also a stat column) holding
    every file shape the footers must get right."""
    def frame(rows):
        return spark.createDataFrame(rows, SCHEMA)

    def write(df):
        df.write.mode("append").partitionBy("p").parquet(base)

    # plain files: NaN (first and last), -0.0 and 0.0, non-ASCII text
    plain = [_row(k, "a") for k in range(40)]
    plain[3] = _row(3, "a", d=NAN, s="zé")
    plain[17] = _row(17, "a", d=-0.0, s="ÿ-ü")
    plain[29] = _row(29, "a", d=0.0, s="Ā")
    plain[39] = _row(39, "a", d=NAN, s="a")
    write(frame(plain).repartition(3))
    # an all-NULL file
    write(frame([(None,) * 9 + ("b",)] * 5).coalesce(1))
    # an over-limit string: the writer keeps no min/max for it
    big = [_row(k, "c") for k in range(4)]
    big[1] = _row(1, "c", s="x" * 5000)
    write(frame(big).coalesce(1))
    # multi-row-group: an all-NULL group, a NaN-only group, then values
    rg = [(None,) * 9 + ("e",)] * 400
    rg += [_row(k, "e", d=NAN) for k in range(400, 800)]
    rg += [_row(k, "e", d=-float(k)) for k in range(800, 2400)]
    (
        frame(rg).drop("p").coalesce(1)
        .sortWithinPartitions(F.col("l").asc_nulls_first())
        .write.option("parquet.block.row.count.limit", 400)
        .parquet(os.path.join(base, "p=e"))
    )
    # a 0-row file
    frame([]).drop("p").coalesce(1).write.parquet(os.path.join(base, "p=f"))


def _canon(zm: dict) -> str:
    return json.dumps(zm, sort_keys=True)


def test_footer_zonemap_equals_the_spark_pass(spark, tmp_path):
    """Over long, int, double (NaN, -0.0), string (non-ASCII,
    over-limit), date, INT96 timestamp, TIMESTAMP_NTZ and both decimal
    encodings, in plain, all-NULL, 0-row, multi-row-group and hive
    files: the footer-built zone map is byte-identical to the Spark
    pass's. The footers describe every pair they can; only the INT96
    column, the partition column and the over-limit file fall back."""
    import pyarrow.parquet as pq

    base = str(tmp_path / "m")
    _write_matrix(spark, base)
    schema = spark.read.schema(SCHEMA).parquet(base).schema
    rels = sorted(ParquetWarehouse._walk_parquet_rels(base))
    footers = ParquetWarehouse._footers(base, rels, STAT_COLS)

    multi = [
        r for r in rels if pq.read_metadata(os.path.join(base, r))
        .num_row_groups >= 3
    ]
    assert len(multi) == 1 and multi[0].startswith("p=e")
    assert any(f.n == 0 for f in footers.values())

    got = ParquetWarehouse._zonemap(spark, base, STAT_COLS, schema, footers)
    want = _spark_pass(spark, base, STAT_COLS, schema)
    assert _canon(got) == _canon(want)
    assert math.isnan(got["files"][multi[0]]["d"][1])
    assert got["files"][multi[0]]["d"][0] == -2399.0

    described = {
        (rel, c)
        for rel, f in footers.items() if f.n
        for c in STAT_COLS
        if ParquetWarehouse._footer_band(
            schema[c].dataType, f.groups.get(c)
        ) is not None
    }
    big = [r for r in rels if r.startswith("p=c")]
    want_described = {
        (rel, c)
        for rel, f in footers.items() if f.n
        for c in FOOTER_EXACT
        if not (rel in big and c == "s")
    }
    assert described == want_described


def test_write_zonemap_builds_the_stager_map(spark, tmp_path):
    """The maintenance rebuild takes the same footer pass: over a
    committed table it reproduces the map the commit staged."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [_row(k, "a") for k in range(30)], SCHEMA
    ).drop("p").repartition(3)
    wh.overwrite(df, "t", stat_cols=["l", "s", "ts"])
    staged = wh.zonemap("t")
    assert len(staged["files"]) == 3
    assert _canon(wh.write_zonemap(spark, "t", ["l", "s", "ts"])) == _canon(
        staged
    )


@pytest.mark.parametrize(
    "groups, band",
    [
        ([(2, 0, 1.0, NAN), (2, 0, -5.0, 3.0)], [-5.0, NAN]),
        ([(2, 0, -5.0, 3.0), (2, 0, 1.0, NAN)], [-5.0, NAN]),
        ([(2, 0, NAN, NAN), (2, 0, 4.0, 9.0)], [4.0, NAN]),
        ([(2, 2, None, None), (3, 0, 1.0, 2.0)], [1.0, 2.0]),
        ([(2, 2, None, None)], [None, None]),
        ([(2, None, None, None)], None),  # values, but no min/max
        ([(2, 1, None, None)], None),
        ([None, (3, 0, 1.0, 2.0)], None),  # a group with no statistics
        ([(3, 0, 1, 2)], None),  # an int box is not a double's
    ],
)
def test_footer_band_orders_nan_last_and_refuses_what_it_cannot_know(
    groups, band
):
    """No Spark: the band of a double column's row groups puts NaN above
    every value whatever the group order, skips all-NULL groups, and
    returns None where a group cannot be described exactly."""
    from pyspark.sql.types import DoubleType

    got = ParquetWarehouse._footer_band(DoubleType(), groups)
    assert json.dumps(got) == json.dumps(band)


def test_decimal_footer_band_scales_the_unscaled_ints():
    """No Spark: an INT64-backed decimal(10,2) footer carries unscaled
    ints (pyarrow cannot box it); the band scales them exactly."""
    from pyspark.sql.types import DecimalType

    got = ParquetWarehouse._footer_band(
        DecimalType(10, 2), [(3, 0, -350, 125), (1, 0, 99, 99)]
    )
    assert got == [Decimal("-3.50"), Decimal("1.25")]


def test_zone_mapped_replace_starts_no_job_after_its_data_write(
    spark, tmp_path, monkeypatch
):
    """A ``replace_files`` commit on a table zone-mapped over a long
    column starts no Spark job once its data is written: its zone-map
    entries come from the staged files' footers."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(
        spark.range(400).select(
            F.col("id").alias("pk"), (F.col("id") % 7).alias("v")
        ).repartition(4),
        "t", stat_cols=["pk"],
    )
    first = sorted(wh.zonemap("t")["files"])[0]
    new = spark.range(1000, 1050).select(
        F.col("id").alias("pk"), F.lit(1).cast("long").alias("v")
    ).coalesce(1)
    sc = spark.sparkContext
    write_group = f"write-{uuid.uuid4().hex}"
    after_group = f"after-write-{uuid.uuid4().hex}"
    real = DataFrameWriter.parquet
    writes = []

    def parquet(self, *a, **kw):
        real(self, *a, **kw)
        writes.append(a)
        sc.setJobGroup(after_group, "after the data write")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    sc.setJobGroup(write_group, "replace_files")
    try:
        wh.replace_files(new, "t", [first])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    monkeypatch.undo()
    assert len(writes) == 1
    assert list(sc.statusTracker().getJobIdsForGroup(write_group))
    assert list(sc.statusTracker().getJobIdsForGroup(after_group)) == []
    zm = wh.zonemap("t")
    bands = sorted(e["pk"] for e in zm["files"].values())
    assert bands[-1] == [1000, 1049]
    assert sum(e["n"] for e in zm["files"].values()) == wh.read(
        spark, "t"
    ).count()
