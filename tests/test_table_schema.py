"""The committed table schema (``_schema.json``): every committed state
carries its read schema, and every read and rewrite takes it from there.

Pins:
- pruned reads keep the committed partition column types: a string
  partition value ``'007'`` is not re-typed as the int 7 when the kept
  files sit under ``p=007`` alone;
- building the DataFrame of ``read``, ``read_zoned`` and
  ``read_bloom_keys`` starts no Spark job (no footer inference), also
  for a ``read_zoned`` that keeps no file (an empty local relation) and
  a ``read`` masking a pending delete key (the key sidecar reads with the
  committed key type);
- ``replace_files`` refuses column type drift with ``append_files``'
  error, since carried files keep their footer types;
- a state dir without ``_schema.json`` is refused, not inferred;
- no reader is handed a path whose own name starts with ``.`` or ``_``
  (Spark ignores such a root path with a warning): the stager's
  manifest passes read the staged files, and the delete sidecar reads
  its files, by name.
"""

from __future__ import annotations

import os
import uuid

import pytest

from example_dms_dataexport_spark.sources.warehouse import (
    SCHEMA_FILE,
    ParquetWarehouse,
)


def _int_like_partitions(spark, tmp_path) -> ParquetWarehouse:
    """String partition column ``p`` holding '007' (ids 1, 3) and 'abc'
    (id 2), one file per partition, zone-mapped and Bloom-indexed on id."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "007"), (2, "abc"), (3, "007")], "id long, p string"
    )
    wh.overwrite(
        df.coalesce(1), "t", partition_by=["p"], stat_cols=["id"],
        bloom_cols=["id"],
    )
    return wh


_PRUNED = {
    "read_zoned": lambda wh, spark: wh.read_zoned(spark, "t", "id", 1, 1),
    "read_bloom_keys": lambda wh, spark: wh.read_bloom_keys(
        spark, "t", "id", [3]
    ),
}


@pytest.mark.parametrize("reader", list(_PRUNED))
def test_pruned_reads_keep_committed_partition_types(
    spark, tmp_path, reader
):
    wh = _int_like_partitions(spark, tmp_path)
    full = wh.read(spark, "t")
    pruned = _PRUNED[reader](wh, spark)
    assert len(pruned.inputFiles()) == 1  # only the p=007 file is read
    assert pruned.schema == full.schema
    assert [r.p for r in pruned.collect()] == ["007"]


def _jobs_building(spark, build) -> tuple[object, list[int]]:
    sc = spark.sparkContext
    group = f"schema-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "building reads")
    try:
        built = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return built, list(sc.statusTracker().getJobIdsForGroup(group))


def test_building_reads_starts_no_spark_job(spark, tmp_path):
    wh = _int_like_partitions(spark, tmp_path)
    built, jobs = _jobs_building(
        spark,
        lambda: (
            wh.read(spark, "t"),
            wh.read_zoned(spark, "t", "id", 1, 2),
            wh.read_bloom_keys(spark, "t", "id", [1, 2]),
            wh.read_zoned(spark, "t", "id", 100, 200),
        ),
    )
    assert jobs == []
    # a pruned read that keeps no file is an empty local relation, not a
    # zero-path parquet scan
    empty = built[-1]
    analyzed = empty._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation <empty>" in analyzed, analyzed
    assert "parquet" not in analyzed, analyzed
    assert empty.schema == built[0].schema and empty.collect() == []
    # a pending delete key: the sidecar reads with the committed key
    # type instead of inferring it
    wh.delete_keys(spark, "t", "id", [2])
    masked, jobs = _jobs_building(spark, lambda: wh.read(spark, "t"))
    assert jobs == []
    assert sorted(r.id for r in masked.collect()) == [1, 3]


def test_replace_files_refuses_type_drift_like_append(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(spark.createDataFrame([(1,), (2,)], "k long"), "t")
    rel = next(n for n in os.listdir(wh.path("t")) if n.endswith(".parquet"))
    batch = spark.createDataFrame([(3,)], "k int")
    with pytest.raises(ValueError, match="type drift") as appended:
        wh.append_files(spark, batch, "t")
    with pytest.raises(ValueError, match="type drift") as replaced:
        wh.replace_files(batch, "t", [rel])
    assert str(replaced.value) == str(appended.value)
    table = wh.read(spark, "t")
    assert table.schema["k"].dataType.simpleString() == "bigint"
    assert sorted(r.k for r in table.collect()) == [1, 2]


def test_state_without_committed_schema_is_refused(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(spark.createDataFrame([(1,)], "k long"), "t")
    os.remove(os.path.join(wh.path("t"), SCHEMA_FILE))
    with pytest.raises(FileNotFoundError, match=SCHEMA_FILE):
        wh.read(spark, "t")


def test_no_reader_is_handed_a_hidden_path(spark, tmp_path, monkeypatch):
    from pyspark.sql.readwriter import DataFrameReader

    wh = _int_like_partitions(spark, tmp_path)  # zone map + Bloom passes
    seen = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **options):
        seen.extend(paths)
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    rel = next(r for r in wh.zonemap("t")["files"] if r.startswith("p=abc/"))
    wh.replace_files(wh._read_files(spark, "t", [rel]), "t", [rel])
    wh.append_files(
        spark, spark.createDataFrame([(4, "abc")], "id long, p string"), "t"
    )
    wh.delete_keys(spark, "t", "id", [2])
    assert sorted(r.id for r in wh.read(spark, "t").collect()) == [1, 3, 4]
    hidden = [
        p for p in seen if os.path.basename(p.rstrip("/")).startswith((".", "_"))
    ]
    assert seen and not hidden, hidden
