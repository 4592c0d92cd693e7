"""Partition-scoped CDC (SURVEY §7.3a): the rewrite is proportional to
the CDC batch, not the table.

Target partitioned by a stable column (``region``, immutable per PK):
- a batch touching one region must leave the other regions' parquet
  files untouched on disk (same paths, same mtimes);
- a batch deleting every row of a region must remove its directory
  (a stale partition dir would resurrect the deleted rows).
"""

import os

import pytest
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from example_dms_dataexport_spark.cdc import incremental_load
from example_dms_dataexport_spark.full_load import full_load
from example_dms_dataexport_spark.metadata import MetadataStore, TableMeta
from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("region", StringType()),
        StructField("val", LongType()),
    ]
)


def _snapshot(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.stat(p).st_mtime_ns
    return out


def _setup(spark, tmp_path):
    stage = tmp_path / "stage"
    tdir = stage / "sch" / "tbl"
    tdir.mkdir(parents=True)
    rows = [(i, "abc"[i % 3], i * 10) for i in range(9)]
    (tdir / "LOAD00000001.csv").write_text(
        "\n".join(f"{i},{r},{v}" for i, r, v in rows) + "\n"
    )
    store = MetadataStore(str(tmp_path / "meta"))
    store.register(
        TableMeta(
            full_path="sch/tbl",
            stage=str(stage),
            db_schema="sch",
            db_table="tbl",
            target_table="t",
            primary_keys=["id"],
        )
    )
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    full_load(spark, store, wh, "sch/tbl", SCHEMA, partition_by=["region"])
    return stage, store, wh, tdir


def test_partition_scoped_rewrite(spark, tmp_path):
    stage, store, wh, tdir = _setup(spark, tmp_path)
    before = _snapshot(wh.path("t"))
    assert any("region=b" in p for p in before)

    # CDC touches ONLY region a: update id=0, delete id=3, insert id=100.
    # Column order is the SOURCE order (op, id, region, val) — what DMS
    # exports carry; full_load recorded it in the metadata row, so the
    # positional cast is immune to the partitioned target reading back
    # partition-columns-last.
    (tdir / "20240101-000000001.csv").write_text(
        "U,0,a,999\nD,3,a,30\nI,100,a,1000\n"
    )
    msg = incremental_load(spark, store, wh, "sch/tbl", partition_by=["region"])
    assert msg.startswith("Rows affected")

    got = {
        r["id"]: (r["region"], r["val"])
        for r in wh.read(spark, "t").collect()
    }
    assert got[0] == ("a", 999)
    assert 3 not in got
    assert got[100] == ("a", 1000)
    assert got[1] == ("b", 10) and got[8] == ("c", 80)  # untouched rows

    after = _snapshot(wh.path("t"))
    for p, mtime in before.items():
        if "region=b" in p or "region=c" in p:
            assert after.get(p) == mtime, f"untouched partition rewritten: {p}"


def test_emptied_partition_directory_removed(spark, tmp_path):
    stage, store, wh, tdir = _setup(spark, tmp_path)
    # delete every region-c row (ids 2,5,8)
    (tdir / "20240102-000000001.csv").write_text(
        "D,2,c,0\nD,5,c,0\nD,8,c,0\n"
    )
    incremental_load(spark, store, wh, "sch/tbl", partition_by=["region"])
    assert not os.path.isdir(os.path.join(wh.path("t"), "region=c"))
    got = {r["id"] for r in wh.read(spark, "t").collect()}
    assert got == {0, 1, 3, 4, 6, 7}


def test_replace_partitions_is_copy_on_write(spark, tmp_path):
    # replace_partitions is a partition-grain replace_files: the touched
    # partition's files are replaced (an emptied one loses its dir in
    # the same swap) and every other file keeps its mtime.
    stage, store, wh, tdir = _setup(spark, tmp_path)
    before = _snapshot(wh.path("t"))
    survivors = wh.read(spark, "t").filter(
        "region = 'c' AND id NOT IN (2, 5, 8)"
    )
    res = wh.replace_partitions(survivors, "t", [("c",)])
    assert res["files_new"] == 0 and res["files_replaced"] >= 1
    assert not os.path.isdir(os.path.join(wh.path("t"), "region=c"))
    after = _snapshot(wh.path("t"))
    assert after == {p: m for p, m in before.items() if "region=c" not in p}
    got = {r["id"] for r in wh.read(spark, "t").collect()}
    assert got == {0, 1, 3, 4, 6, 7}


def test_partitioned_erase_crash_at_commit_swap(spark, tmp_path, monkeypatch):
    # A partitioned erase (no bloom manifest) commits copy-on-write
    # through replace_files. A crash at the commit swap must leave the
    # pre-erase table readable in full — no emptied partition lost, no
    # staging dir left behind — and a rerun must erase completely.
    stage, store, wh, tdir = _setup(spark, tmp_path)
    # every region-c row (ids 2,5,8) plus one region-a row (id 0)
    subjects = spark.createDataFrame([(0,), (2,), (5,), (8,)], "k long")
    before = _snapshot(wh.path("t"))

    def boom(self, *a, **kw):
        raise RuntimeError("injected crash in the commit swap")

    monkeypatch.setattr(ParquetWarehouse, "_commit_swap", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        wh.erase_subjects(spark, "t", "id", subjects)
    monkeypatch.undo()

    assert _snapshot(wh.path("t")) == before
    assert os.path.isdir(os.path.join(wh.path("t"), "region=c"))
    got = {r["id"] for r in wh.read(spark, "t").collect()}
    assert got == set(range(9))
    assert not [n for n in os.listdir(wh.root) if n.startswith(".tmp-")]
    assert not os.path.exists(wh._mutation_lock_path("t"))

    res = wh.erase_subjects(spark, "t", "id", subjects)
    assert res["rows_erased"] == 4 and res["touched_partitions"] == 2
    got = {r["id"] for r in wh.read(spark, "t").collect()}
    assert got == {1, 3, 4, 6, 7}
    assert not os.path.isdir(os.path.join(wh.path("t"), "region=c"))


def test_null_partition_value_not_dropped(spark, tmp_path):
    # A NULL partition value must be merged null-safely: plain struct-IN
    # evaluates to NULL for the tuple and would silently exclude the
    # partition's existing rows from the merge while still rewriting it.
    stage = tmp_path / "stage"
    tdir = stage / "sch" / "tbl"
    tdir.mkdir(parents=True)
    # ids 0,1 have an empty (NULL) region; 2,3 are region a.
    (tdir / "LOAD00000001.csv").write_text("0,,10\n1,,20\n2,a,30\n3,a,40\n")
    store = MetadataStore(str(tmp_path / "meta"))
    store.register(
        TableMeta(
            full_path="sch/tbl",
            stage=str(stage),
            db_schema="sch",
            db_table="tbl",
            target_table="t",
            primary_keys=["id"],
        )
    )
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    full_load(spark, store, wh, "sch/tbl", SCHEMA, partition_by=["region"])

    # update one row in the NULL partition and one in region a
    (tdir / "20240104-000000001.csv").write_text("U,0,,999\nU,2,a,777\n")
    msg = incremental_load(spark, store, wh, "sch/tbl", partition_by=["region"])
    assert msg.startswith("Rows affected")

    got = {r["id"]: (r["region"], r["val"]) for r in wh.read(spark, "t").collect()}
    assert got[0] == (None, 999)
    assert got[1] == (None, 20)  # sibling row in NULL partition survives
    assert got[2] == ("a", 777)
    assert got[3] == ("a", 40)


def test_many_touched_partitions_struct_in_predicate(spark, tmp_path):
    # >100 touched partitions: the pruning predicate must stay one compact
    # struct-IN (INSET), not an OR-chain whose expression tree grows with
    # the partition count — and untouched partitions stay untouched.
    stage = tmp_path / "stage"
    tdir = stage / "sch" / "wide"
    tdir.mkdir(parents=True)
    n_parts, touched_parts = 150, 120
    rows = [(i, i % n_parts, i * 10) for i in range(n_parts * 2)]
    (tdir / "LOAD00000001.csv").write_text(
        "\n".join(f"{i},{b},{v}" for i, b, v in rows) + "\n"
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("bucket", LongType()),
            StructField("val", LongType()),
        ]
    )
    store = MetadataStore(str(tmp_path / "meta"))
    store.register(
        TableMeta(
            full_path="sch/wide",
            stage=str(stage),
            db_schema="sch",
            db_table="wide",
            target_table="wide",
            primary_keys=["id"],
        )
    )
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    full_load(spark, store, wh, "sch/wide", schema, partition_by=["bucket"])
    before = _snapshot(wh.path("wide"))

    # one update in each of buckets [0, touched_parts); column order is
    # the SOURCE order (op, id, bucket, val) recorded at full load
    (tdir / "20240103-000000001.csv").write_text(
        "\n".join(f"U,{b},{b},{b * 1000}" for b in range(touched_parts)) + "\n"
    )
    msg = incremental_load(spark, store, wh, "sch/wide", partition_by=["bucket"])
    assert msg.startswith("Rows affected")

    got = {r["id"]: r["val"] for r in wh.read(spark, "wide").collect()}
    assert len(got) == n_parts * 2
    for b in range(touched_parts):
        assert got[b] == b * 1000
    assert got[touched_parts] == touched_parts * 10  # untouched bucket

    after = _snapshot(wh.path("wide"))
    for p, mtime in before.items():
        b = int(p.split("bucket=")[1].split("/")[0])
        if b >= touched_parts:
            assert after.get(p) == mtime, f"untouched partition rewritten: {p}"


def test_schema_evolution_forces_full_rewrite_of_all_partitions(
    spark, tmp_path
):
    """An evolution batch on a partitioned target must rewrite EVERY
    partition dir to the evolved layout: a partition-scoped rewrite would
    leave untouched dirs on the old footer schema, and a later plain read
    (mergeSchema off) could resolve the table schema from one of them —
    silently dropping the new column."""
    stage, store, wh, tdir = _setup(spark, tmp_path)

    # the evolved schema extends the SOURCE order (id, region, val) — the
    # order full_load recorded, NOT the partitioned target's read order
    # (which moves region last); the positional cast follows the source
    evolved = StructType([*SCHEMA.fields, StructField("tier", StringType())])
    # CDC touches ONLY region a, but the layout change is table-wide
    (tdir / "20240103-000000001.csv").write_text("U,0,a,999,gold\n")
    msg = incremental_load(
        spark, store, wh, "sch/tbl", partition_by=["region"], schema=evolved
    )
    assert msg.startswith("Rows affected")

    # every partition leaf now carries the evolved layout — read each dir
    # directly (no mergeSchema) and the new column must be there
    for leaf in ("region=a", "region=b", "region=c"):
        leaf_dir = os.path.join(wh.path("t"), leaf)
        assert os.path.isdir(leaf_dir)
        assert "tier" in spark.read.parquet(leaf_dir).columns, leaf

    got = {
        r["id"]: (r["region"], r["val"], r["tier"])
        for r in wh.read(spark, "t").collect()
    }
    assert got[0] == ("a", 999, "gold")
    assert got[1] == ("b", 10, None)  # untouched row: NULL back-fill
    assert got[8] == ("c", 80, None)

    # later partition-scoped batches against the evolved layout keep
    # working without passing a schema: the evolution recorded the new
    # SOURCE order (id, region, val, tier) in the metadata row, even
    # though the partitioned target reads back with region last
    assert wh.read(spark, "t").schema.fieldNames() == [
        "id", "val", "tier", "region",
    ]
    assert store.get("sch/tbl").column_order == [
        "id", "region", "val", "tier",
    ]
    (tdir / "20240104-000000001.csv").write_text("U,1,b,111,silver\n")
    incremental_load(spark, store, wh, "sch/tbl", partition_by=["region"])
    got = {
        r["id"]: (r["val"], r["tier"])
        for r in wh.read(spark, "t").collect()
    }
    assert got[1] == (111, "silver")
    assert got[0] == (999, "gold")


def test_bench_fixture_matches_global_merge(spark, tmp_path):
    # The bench's partition-scoped fixture (q18p) must land on exactly the
    # state a single global (unpartitioned) apply_changes would produce —
    # partition scoping is a physical optimization, never a semantic one.
    from pyspark.sql import functions as F

    from example_dms_dataexport_spark.merge import apply_changes
    from example_dms_dataexport_spark.streaming.cdc_fixture import (
        CUST_COLS,
        run_partitioned_cdc_fixture,
    )
    from example_dms_dataexport_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    n, touched, buckets = run_partitioned_cdc_fixture(
        spark, sf_dir, str(tmp_path), n_buckets=8, touched_buckets=3
    )
    assert 0 < touched < buckets

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    got = wh.read(spark, "customer")

    def bucket(col):
        return F.pmod(F.xxhash64(col), F.lit(8)).cast("int")

    cust = (
        load_table(spark, sf_dir, "customer")
        .select(*CUST_COLS)
        .withColumn("c_bucket", bucket(F.col("c_custkey")))
    )
    orders = load_table(spark, sf_dir, "orders")
    opmod = F.col("o_orderkey") % 10
    changes = (
        orders.select(
            F.when(opmod < 2, "D").when(opmod < 6, "U").otherwise("I").alias("op"),
            F.when(opmod >= 6, F.col("o_custkey") + 1000000)
            .otherwise(F.col("o_custkey"))
            .alias("c_custkey"),
            F.concat(F.lit("chg-"), F.col("o_orderkey").cast("string")).alias(
                "c_name"
            ),
            (F.col("o_orderkey") % 25).cast("int").alias("c_nationkey"),
            (F.col("o_totalprice") + 1000).alias("c_acctbal"),
            F.col("o_orderpriority").alias("c_mktsegment"),
            F.col("o_orderdate").alias("_file"),
            F.col("o_orderkey").alias("_rownum"),
        )
        .withColumn("c_bucket", bucket(F.col("c_custkey")))
        .filter(F.col("c_bucket") < 3)
    )
    expected = apply_changes(
        cust, changes, pks=["c_custkey"], version_cols=["_file", "_rownum"]
    )
    cols = sorted(got.columns)
    assert cols == sorted(expected.columns)
    g = sorted(map(tuple, got.select(*cols).collect()))
    e = sorted(map(tuple, expected.select(*cols).collect()))
    assert g == e


def test_touched_partition_rewrite_is_file_coalesced(spark, tmp_path):
    """The partitioned merge must not fan ONE FILE PER SHUFFLE
    PARTITION into every touched value dir (a persisted merge result
    pinned its pre-AQE pk-hash partitioning and wrote 32 files per
    touched partition for a 3k-row merge at bench scale). The merge
    commits its lazy result through replace_files, so AQE coalesces
    the batch-sized output. Bound: a small merge leaves each touched
    partition with a handful of advisory-sized files, not
    shuffle-partition many."""
    from example_dms_dataexport_spark.cdc import merge_and_write

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    rows = [(i, "abc"[i % 3], i * 10) for i in range(300)]
    df = spark.createDataFrame(rows, SCHEMA)
    # a fan-prone source: many shuffle partitions feeding the merge
    wh.overwrite(df.repartition(8), "t", partition_by=["region"])
    changes = spark.createDataFrame(
        [("U", i, "a", i * 100, "f1", i) for i in range(0, 300, 3)],
        ["op", "id", "region", "val", "_f", "_r"],
    ).repartition(8)
    n = merge_and_write(
        wh, "t", wh.read(spark, "t"), changes,
        pks=["id"], version_cols=["_f", "_r"], partition_by=["region"],
    )
    assert n > 0
    adir = tmp_path / "wh" / "t" / "region=a"
    files = [f for f in os.listdir(adir) if f.endswith(".parquet")]
    assert 1 <= len(files) <= 4, files
    # untouched regions keep their pre-merge files (the scoping pin)
    got = {
        (r["id"], r["region"], r["val"])
        for r in wh.read(spark, "t").collect()
    }
    assert (3, "a", 30) not in got and (3, "a", 300) in got


def test_empty_partitioned_batch_short_circuits_without_commit(
    spark, tmp_path
):
    """The partitioned path's empty-batch probe is the touched-partition
    collect itself (r20 — the separate isEmpty() pass was one redundant
    full evaluation of the change-batch subtree per merge): zero rows
    -> zero touched tuples -> return 0 with NO commit and no mtime
    churn."""
    from example_dms_dataexport_spark.cdc import merge_and_write

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    rows = [(i, "abc"[i % 3], i * 10) for i in range(9)]
    wh.overwrite(spark.createDataFrame(rows, SCHEMA), "t", partition_by=["region"])
    before = _snapshot(str(tmp_path / "wh" / "t"))
    empty = spark.createDataFrame(
        [], "op string, id long, region string, val long, _f string, _r long"
    )
    n = merge_and_write(
        wh, "t", wh.read(spark, "t"), empty,
        pks=["id"], version_cols=["_f", "_r"], partition_by=["region"],
    )
    assert n == 0
    assert _snapshot(str(tmp_path / "wh" / "t")) == before
