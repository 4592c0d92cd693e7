"""End-to-end DMS pipeline tests against a synthesized landing directory.

Fixture layout mirrors the reference's input contract (FIXTURES.md §B,
ref control_migration_schema_script.sql:235,291,301):

    <stage>/<db_schema>/<db_table>/LOAD00000001.csv        full load
    <stage>/<db_schema>/<db_table>/20240101-000000001.csv  CDC batch

Covered behaviors (each maps to a reference line, see SURVEY §5.3):
latest-row-in-file wins (:382,388); later-file wins (:382); D deletes
(:401-402); D on absent row is a no-op (:405); U/I on absent row inserts
(:403-407); re-run with no new files changes nothing (:421-423); full
reload resets the watermark to '0' (:244).
"""

import os

import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from example_dms_dataexport_spark.cdc import incremental_load
from example_dms_dataexport_spark.discover import fill_dms_metadata, parse_stage_path
from example_dms_dataexport_spark.full_load import full_load
from example_dms_dataexport_spark.metadata import MetadataStore, TableMeta
from example_dms_dataexport_spark.runner import run_queue
from example_dms_dataexport_spark.planner import WorkItem, prepare_migration_queue
from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse

CUST_SCHEMA = StructType(
    [
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_acctbal", DoubleType()),
    ]
)


def write_file(root, rel, lines):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.fixture()
def landing(tmp_path):
    stage = str(tmp_path / "stage")
    write_file(
        stage,
        "erp/customer/LOAD00000001.csv",
        ["1,alice,10.5", "2,bob,20.0", "3,carol,30.25"],
    )
    return stage


def make_env(tmp_path, landing, last_incremental_file="0"):
    store = MetadataStore(str(tmp_path / "meta.json"))
    store.register(
        TableMeta(
            full_path="erp/customer",
            db_schema="erp",
            db_table="customer",
            stage=landing,
            primary_keys=["c_custkey"],
            last_incremental_file=last_incremental_file,
        )
    )
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    return store, wh


def rows_of(spark, wh):
    return {
        (r.c_custkey, r.c_name, r.c_acctbal)
        for r in wh.read(spark, "erp_customer").collect()
    }


def test_full_load_and_watermark_reset(spark, tmp_path, landing):
    store, wh = make_env(tmp_path, landing, last_incremental_file="20990101-0")
    n = full_load(spark, store, wh, "erp/customer", schema=CUST_SCHEMA)
    assert n == 3
    assert rows_of(spark, wh) == {
        (1, "alice", 10.5),
        (2, "bob", 20.0),
        (3, "carol", 30.25),
    }
    meta = store.get("erp/customer")
    assert meta.last_incremental_file == "0"  # sentinel reset, ref :244
    assert meta.last_full_load_date is not None


def test_incremental_latest_wins_and_ops(spark, tmp_path, landing):
    store, wh = make_env(tmp_path, landing)
    full_load(spark, store, wh, "erp/customer", schema=CUST_SCHEMA)
    # file 1: two ops for pk=2 in one file → last row in file wins (U 2 bob2b)
    #         D for pk=3 → delete; D for pk=99 (absent) → no-op
    write_file(
        landing,
        "erp/customer/20240101-000000001.csv",
        ["U,2,bob2a,21.0", "U,2,bob2b,22.0", "D,3,carol,0", "D,99,ghost,0"],
    )
    # file 2 (later): overrides file 1 for pk=2; U for absent pk=4 → insert
    write_file(
        landing,
        "erp/customer/20240102-000000002.csv",
        ["U,2,bob3,23.0", "U,4,dave,40.0"],
    )
    msg = incremental_load(spark, store, wh, "erp/customer")
    assert msg.startswith("Rows affected:")
    assert rows_of(spark, wh) == {
        (1, "alice", 10.5),
        (2, "bob3", 23.0),
        (4, "dave", 40.0),
    }
    assert store.get("erp/customer").last_incremental_file == "20240102-000000002.csv"
    # re-run with no new files → early exit, nothing changes (ref :421-423)
    assert incremental_load(spark, store, wh, "erp/customer") == "No files to process."
    assert rows_of(spark, wh) == {(1, "alice", 10.5), (2, "bob3", 23.0), (4, "dave", 40.0)}


def test_incremental_requires_pks(spark, tmp_path, landing):
    store, wh = make_env(tmp_path, landing)
    store.register(
        TableMeta(
            full_path="erp/customer",
            db_schema="erp",
            db_table="customer",
            stage=landing,
            primary_keys=[],
        )
    )
    assert "can't be null" in incremental_load(spark, store, wh, "erp/customer")


def test_discover_and_planner_types(spark, tmp_path, landing):
    # second table with only a full-load file
    write_file(landing, "erp/orders/LOAD00000001.csv", ["1,100.0"])
    store = MetadataStore(str(tmp_path / "meta.json"))
    n = fill_dms_metadata(
        spark, store, landing, primary_keys={"customer": ["c_custkey"]}
    )
    assert n == 2
    metas = {m.full_path: m for m in store.all()}
    assert set(metas) == {"erp/customer", "erp/orders"}
    assert metas["erp/customer"].primary_keys == ["c_custkey"]

    # fresh tables (watermark '0'/NULL) + LOAD and CDC files present → B;
    # only LOAD present → F (since NULL full-load date coalesced to epoch)
    write_file(landing, "erp/customer/20240101-000000001.csv", ["U,1,a,1.0"])
    items = {i.full_path: i for i in prepare_migration_queue(spark, store)}
    assert items["erp/customer"].load_type == "B"
    assert items["erp/orders"].load_type == "F"
    assert all(1 <= i.worker <= 5 for i in items.values())

    # after loading, with no new files → table drops out of the plan (N/absent)
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    run_queue(
        spark,
        store,
        wh,
        list(items.values()),
        schemas={
            "erp/customer": CUST_SCHEMA,
            "erp/orders": StructType(
                [StructField("o_id", LongType()), StructField("amt", DoubleType())]
            ),
        },
    )
    items2 = prepare_migration_queue(spark, store)
    assert [i for i in items2 if i.load_type != "N"] == []


def test_parse_stage_path_uri():
    p = parse_stage_path("s3://bkt/dms/prod/erp/customer/LOAD00000001.csv")
    assert p == {
        "full_path": "s3://bkt/dms/prod/erp/customer",
        "cloud_provider": "s3",
        "bucket": "bkt",
        "db_prefix": "dms/prod",
        "db_schema": "erp",
        "db_table": "customer",
    }


def test_runner_end_to_end(spark, tmp_path, landing):
    store, wh = make_env(tmp_path, landing)
    write_file(landing, "erp/customer/20240103-000000001.csv", ["I,5,eve,50.0"])
    res = run_queue(
        spark,
        store,
        wh,
        [WorkItem("erp/customer", "B", 1)],
        schemas={"erp/customer": CUST_SCHEMA},
    )
    assert not res.errors
    assert (5, "eve", 50.0) in rows_of(spark, wh)


def test_decimal_column_survives_full_then_cdc_merge(spark, tmp_path):
    # NUMBER(p,s) end-to-end (ref control_migration_schema_script.sql:341-348):
    # a DecimalType(12,2) column must survive full load -> CDC merge with
    # exact decimal values — no double round-trip anywhere in the pipeline.
    from decimal import Decimal

    from pyspark.sql.types import DecimalType

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("amount", DecimalType(12, 2)),
        ]
    )
    stage = str(tmp_path / "stage")
    write_file(
        stage,
        "fin/ledger/LOAD00000001.csv",
        ["1,1234567890.12", "2,0.01", "3,-999.99"],
    )
    store = MetadataStore(str(tmp_path / "meta.json"))
    store.register(
        TableMeta(
            full_path="fin/ledger",
            db_schema="fin",
            db_table="ledger",
            stage=stage,
            primary_keys=["id"],
        )
    )
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    assert full_load(spark, store, wh, "fin/ledger", schema=schema) == 3

    loaded = wh.read(spark, "fin_ledger")
    assert loaded.schema["amount"].dataType == DecimalType(12, 2)

    # CDC: update id=2 to a value that is NOT double-representable exactly,
    # insert id=4 at the scale boundary, delete id=3
    write_file(
        stage,
        "fin/ledger/20240101-000000001.csv",
        ["U,2,0.10", "I,4,9999999999.99", "D,3,-999.99"],
    )
    msg = incremental_load(spark, store, wh, "fin/ledger")
    assert msg.startswith("Rows affected:")
    final = wh.read(spark, "fin_ledger")
    assert final.schema["amount"].dataType == DecimalType(12, 2)
    got = {r.id: r.amount for r in final.collect()}
    assert got == {
        1: Decimal("1234567890.12"),
        2: Decimal("0.10"),
        4: Decimal("9999999999.99"),
    }


def test_runner_tags_job_groups_per_load(spark, tmp_path, landing):
    # QUERY_TAG analogue (ref :225,281,540-544): every load's Spark jobs
    # are grouped under its full_path, so an operator can find a hung
    # load's jobs in the UI/REST API by table name.
    store, wh = make_env(tmp_path, landing)
    items = [WorkItem(full_path="erp/customer", load_type="F", worker=0)]
    res = run_queue(
        spark, store, wh, items, schemas={"erp/customer": CUST_SCHEMA}
    )
    assert not res.errors
    tracker = spark.sparkContext.statusTracker()
    assert tracker.getJobIdsForGroup("erp/customer"), (
        "no Spark jobs recorded under the load's job group"
    )


def _parquet_files(d):
    out = []
    for dirpath, _dirs, files in os.walk(d):
        out.extend(
            os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
        )
    return out


def test_compact_unpartitioned(spark, tmp_path):
    import pyspark.sql.functions as F

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.range(0, 5000).select(
        F.col("id"), (F.col("id") * 7 % 13).alias("v")
    )
    wh.overwrite(df.repartition(16), "t")
    assert len(_parquet_files(wh.path("t"))) >= 16
    before = sorted(tuple(r) for r in wh.read(spark, "t").collect())
    assert wh.compact(spark, "t", target_file_bytes=1 << 30) == 1
    assert len(_parquet_files(wh.path("t"))) == 1
    assert sorted(tuple(r) for r in wh.read(spark, "t").collect()) == before
    # second pass: already compact, nothing rewritten, files untouched
    mtimes = {f: os.path.getmtime(f) for f in _parquet_files(wh.path("t"))}
    assert wh.compact(spark, "t", target_file_bytes=1 << 30) == 0
    assert {f: os.path.getmtime(f) for f in _parquet_files(wh.path("t"))} == mtimes


def test_compact_partitioned_skips_compact_partitions(spark, tmp_path):
    import pyspark.sql.functions as F

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.range(0, 4000).select(
        F.col("id"), (F.col("id") % 4).alias("p")
    )
    wh.overwrite(df.repartition(8), "t", partition_by=["p"])
    before = sorted(tuple(r) for r in wh.read(spark, "t").collect())
    p0 = os.path.join(wh.path("t"), "p=0")
    assert len(_parquet_files(p0)) > 1
    assert wh.compact(spark, "t", target_file_bytes=1 << 30) == 4
    assert all(
        len(_parquet_files(os.path.join(wh.path("t"), f"p={i}"))) == 1
        for i in range(4)
    )
    assert sorted(tuple(r) for r in wh.read(spark, "t").collect()) == before
    # already-compact partitions are not rewritten on a second pass
    mtimes = {f: os.path.getmtime(f) for f in _parquet_files(wh.path("t"))}
    assert wh.compact(spark, "t", target_file_bytes=1 << 30) == 0
    assert {f: os.path.getmtime(f) for f in _parquet_files(wh.path("t"))} == mtimes


def test_compact_bucketed_is_noop_when_unfragmented(spark, tmp_path):
    """Since r15 compact ACCEPTS bucketed tables (it merges fragmented
    multi-file buckets — tests/test_bucket_gdpr.py pins the rewrite);
    a freshly written table is one file per bucket already, so the pass
    is an idempotent no-op that touches nothing. A sort_by contradicting
    the spec's layout contract still refuses."""
    import pyspark.sql.functions as F

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.range(0, 100).select(F.col("id").alias("k"), F.col("id").alias("v"))
    wh.write_bucketed(df, "bt", ["k"], 4)
    mtimes = {f: os.path.getmtime(f) for f in _parquet_files(wh.path("bt"))}
    assert wh.compact(spark, "bt") == 0
    assert {
        f: os.path.getmtime(f) for f in _parquet_files(wh.path("bt"))
    } == mtimes
    with pytest.raises(ValueError, match="sort contract"):
        wh.compact(spark, "bt", sort_by=["v"])


def test_overwrite_cluster_by_yields_disjoint_file_ranges(spark, tmp_path):
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    # write shuffled ids so clustering has real work to do
    df = spark.range(0, 20000).select(
        (F.xxhash64("id") % 100000).alias("scrambled"), F.col("id").alias("k")
    )
    wh.overwrite(
        df.repartition(8), "t", cluster_by=["k"], cluster_partitions=8
    )
    ranges = []
    for f in _parquet_files(wh.path("t")):
        md = pq.ParquetFile(f).metadata
        ki = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "k"
        )
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ki).statistics
            ranges.append((st.min, st.max))
    assert len(ranges) > 1  # multiple files/row groups exist
    ranges.sort()
    # row-group key ranges are non-overlapping -> a range predicate can
    # skip every group outside its band
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)
    # rows survive intact
    assert wh.read(spark, "t").count() == 20000


def test_overwrite_zorder_localizes_every_listed_column(spark, tmp_path):
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    wh = ParquetWarehouse(str(tmp_path / "whz"))
    # two independent uniform columns: lexicographic clustering can
    # localize only its leading column; Z-order must localize both
    df = spark.range(0, 20000).select(
        (F.xxhash64("id") % 1000).alias("a"),
        (F.xxhash64(F.col("id") + 7) % 1000).alias("b"),
    )

    def per_file_coverage(table, col):
        spans = []
        for f in _parquet_files(wh.path(table)):
            md = pq.ParquetFile(f).metadata
            ci = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            mn = min(md.row_group(g).column(ci).statistics.min
                     for g in range(md.num_row_groups))
            mx = max(md.row_group(g).column(ci).statistics.max
                     for g in range(md.num_row_groups))
            spans.append((mx - mn) / 2000.0)  # global span ~[-1000,1000)
        return sum(spans) / len(spans), len(spans)

    wh.overwrite(df.repartition(8), "lex", cluster_by=["a", "b"],
                 cluster_partitions=16)
    wh.overwrite(df.repartition(8), "zed", zorder_by=["a", "b"],
                 cluster_partitions=16)
    lex_b, _ = per_file_coverage("lex", "b")
    z_a, nfa = per_file_coverage("zed", "a")
    z_b, _ = per_file_coverage("zed", "b")
    assert nfa >= 8  # clustering actually split files
    # lexicographic files span essentially all of b ...
    assert lex_b > 0.8, lex_b
    # ... while z-order files cover a fraction of BOTH dimensions
    assert z_a < 0.55 and z_b < 0.55, (z_a, z_b)
    # content unchanged, mutual exclusion enforced
    assert wh.read(spark, "zed").count() == 20000
    with pytest.raises(ValueError, match="mutually exclusive"):
        wh.overwrite(df, "x", cluster_by=["a"], zorder_by=["b"])


def test_write_shards_bounds_files_and_manifest(spark, tmp_path):
    import pyspark.sql.functions as F

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.range(0, 5000).withColumn("v", F.col("id") * 2)
    # explicit n_tasks > 1: determinism must hold across a REAL
    # multi-partition hash shuffle, not via AQE collapsing to one task
    m = wh.write_shards(df, "shards", max_records_per_file=500,
                        shuffle_by=["id"], n_tasks=4)
    assert m["total_rows"] == 5000
    assert m["n_shards"] >= 10
    assert all(s["rows"] <= 500 for s in m["shards"])
    assert wh.read_manifest("shards") == m
    got = {r["id"] for r in wh.read(spark, "shards").collect()}
    assert got == set(range(5000))

    # deterministic: a second identical write produces identical
    # per-shard contents (reproducible hash shuffle + total sort order,
    # not rand() and not range-sampled boundaries)
    def shard_contents(manifest):
        # file names embed a per-job uuid; position in the sorted
        # manifest is the stable identity
        return [
            sorted(
                (r["id"], r["v"])
                for r in spark.read.parquet(
                    os.path.join(wh.path("shards"), s["file"])
                ).collect()
            )
            for s in manifest["shards"]
        ]

    first = shard_contents(m)
    m2 = wh.write_shards(df, "shards", max_records_per_file=500,
                         shuffle_by=["id"], n_tasks=4)
    assert [s["rows"] for s in m2["shards"]] == [s["rows"] for s in m["shards"]]
    assert shard_contents(m2) == first


def test_write_shards_failure_leaves_no_temp(spark, tmp_path, monkeypatch):
    """A failed shard-manifest write removes the staged shards: the
    export stages through the warehouse's one staging dir, which is
    cleaned up on every exit."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))

    def boom(*a, **kw):
        raise OSError("kill-point: manifest write failed")

    monkeypatch.setattr(wh, "_write_json_atomic", boom)
    with pytest.raises(OSError, match="kill-point"):
        wh.write_shards(spark.range(0, 100), "shards")
    assert [n for n in os.listdir(wh.root) if n.startswith(".tmp-")] == []
    assert not wh.exists("shards")


def test_csv_on_error_modes(spark, tmp_path):
    # COPY INTO error-contract parity: permissive nulls bad fields,
    # failfast aborts (ABORT_STATEMENT), quarantine keeps the raw line
    from example_dms_dataexport_spark.sources.csv_stage import (
        read_stage_csv,
        split_quarantine,
    )

    schema = StructType(
        [StructField("id", LongType()), StructField("val", LongType())]
    )
    f = tmp_path / "data.csv"
    f.write_text("1,10\n2,notanumber\n3,30\n")
    files = [str(f)]

    lenient = read_stage_csv(spark, files, schema).collect()
    assert {(r["id"], r["val"]) for r in lenient} == {
        (1, 10), (2, None), (3, 30),
    }

    with pytest.raises(Exception, match="Malformed|FAILFAST|BAD_RECORD"):
        read_stage_csv(spark, files, schema, on_error="failfast").collect()

    q = read_stage_csv(spark, files, schema, on_error="quarantine")
    good, bad = split_quarantine(q)
    assert {(r["id"], r["val"]) for r in good.collect()} == {(1, 10), (3, 30)}
    assert [r["_corrupt_record"] for r in bad.collect()] == ["2,notanumber"]

    # a typo must raise, not silently fall through to an aborting FAILFAST
    with pytest.raises(ValueError, match="on_error"):
        read_stage_csv(spark, files, schema, on_error="permisive")


def test_run_queue_retries_transient_failures(spark, tmp_path, landing, monkeypatch):
    import example_dms_dataexport_spark.runner as runner_mod

    store, wh = make_env(tmp_path, landing)
    real_full_load = runner_mod.full_load
    calls = {"n": 0}

    def flaky_full_load(*a, **kw):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise RuntimeError("transient storage hiccup")
        return real_full_load(*a, **kw)

    monkeypatch.setattr(runner_mod, "full_load", flaky_full_load)
    res = run_queue(
        spark, store, wh, [WorkItem("erp/customer", "F", 1)],
        schemas={"erp/customer": CUST_SCHEMA},
        retries=2, backoff_s=0.01,
    )
    assert res.errors == []
    assert calls["n"] == 3
    assert rows_of(spark, wh) == {
        (1, "alice", 10.5), (2, "bob", 20.0), (3, "carol", 30.25),
    }

    # without retries the same failure is terminal and lands in errors
    calls["n"] = 0
    store2, wh2 = make_env(tmp_path, landing)
    res2 = run_queue(
        spark, store2, wh2, [WorkItem("erp/customer", "F", 1)],
        schemas={"erp/customer": CUST_SCHEMA},
    )
    assert len(res2.errors) == 1 and "transient" in res2.errors[0][1]


def test_cdc_schema_evolution_adds_column(spark, tmp_path, landing):
    # the source grows a column: CDC files carry an extra positional
    # field; existing rows back-fill NULL, merged rows carry the value
    store, wh = make_env(tmp_path, landing)
    full_load(spark, store, wh, "erp/customer", schema=CUST_SCHEMA)

    evolved = StructType(
        [*CUST_SCHEMA.fields, StructField("c_tier", StringType())]
    )
    write_file(
        landing,
        "erp/customer/20240105-000000001.csv",
        ["U,2,bob2,22.0,gold", "I,4,dave,40.0,silver"],
    )
    msg = incremental_load(spark, store, wh, "erp/customer", schema=evolved)
    assert msg.startswith("Rows affected")
    got = {
        (r.c_custkey, r.c_name, r.c_acctbal, r.c_tier)
        for r in wh.read(spark, "erp_customer").collect()
    }
    assert got == {
        (1, "alice", 10.5, None),   # untouched row: NULL back-fill
        (3, "carol", 30.25, None),
        (2, "bob2", 22.0, "gold"),
        (4, "dave", 40.0, "silver"),
    }

    # a later batch WITHOUT passing the schema keeps working against the
    # evolved stored layout
    write_file(
        landing,
        "erp/customer/20240106-000000001.csv",
        ["U,1,alice2,11.0,bronze"],
    )
    incremental_load(spark, store, wh, "erp/customer")
    got = {
        (r.c_custkey, r.c_tier)
        for r in wh.read(spark, "erp_customer").collect()
        if r.c_custkey == 1
    }
    assert got == {(1, "bronze")}

    # dropping a stored column is refused (needs a pending file to reach
    # the merge path — the no-new-files early exit comes first)
    write_file(
        landing, "erp/customer/20240107-000000001.csv", ["U,1,a,1.0,x"]
    )
    with pytest.raises(ValueError, match="additive-only"):
        incremental_load(
            spark, store, wh, "erp/customer",
            schema=StructType(CUST_SCHEMA.fields[:2]),
        )


# --- parquet stage format (metadata file_format honored, ref :26) ----------


def _write_stage_parquet(root, rel, rows, names):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in names]
    pq.write_table(
        pa.table({n: list(c) for n, c in zip(names, cols)}), path
    )


def test_parquet_stage_full_then_incremental(spark, tmp_path):
    stage = str(tmp_path / "stage")
    # DMS parquet full-load files carry real source column names; the
    # reader's contract is positional, so names need not match the target
    _write_stage_parquet(
        stage,
        "erp/customer/LOAD00000001.parquet",
        [(1, "alice", 10.5), (2, "bob", 20.0), (3, "carol", 30.25)],
        ["C_CUSTKEY", "C_NAME", "C_ACCTBAL"],
    )
    store = MetadataStore(str(tmp_path / "meta.json"))
    store.register(
        TableMeta(
            full_path="erp/customer",
            db_schema="erp",
            db_table="customer",
            stage=stage,
            primary_keys=["c_custkey"],
            file_format="parquet",
        )
    )
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    assert full_load(spark, store, wh, "erp/customer", schema=CUST_SCHEMA) == 3

    # CDC batch: op column first (DMS names it 'Op'); intra-file order
    # matters (two ops for pk=2 -> last row in file wins), and a second,
    # later file overrides the first
    _write_stage_parquet(
        stage,
        "erp/customer/20240101-000000001.parquet",
        [
            ("U", 2, "bob2a", 21.0),
            ("U", 2, "bob2b", 22.0),
            ("D", 3, "carol", 0.0),
        ],
        ["Op", "C_CUSTKEY", "C_NAME", "C_ACCTBAL"],
    )
    _write_stage_parquet(
        stage,
        "erp/customer/20240102-000000002.parquet",
        [("U", 2, "bob3", 23.0), ("I", 4, "dave", 40.0)],
        ["Op", "C_CUSTKEY", "C_NAME", "C_ACCTBAL"],
    )
    msg = incremental_load(spark, store, wh, "erp/customer")
    assert msg.startswith("Rows affected:")
    assert rows_of(spark, wh) == {
        (1, "alice", 10.5),
        (2, "bob3", 23.0),
        (4, "dave", 40.0),
    }
    meta = store.get("erp/customer")
    assert meta.last_incremental_file == "20240102-000000002.parquet"
    assert (
        incremental_load(spark, store, wh, "erp/customer")
        == "No files to process."
    )


def test_parquet_stage_rejects_column_count_mismatch(spark, tmp_path):
    from example_dms_dataexport_spark.sources.parquet_stage import (
        read_stage_parquet,
    )

    stage = str(tmp_path / "stage")
    _write_stage_parquet(
        stage, "f.parquet", [(1, "a")], ["x", "y"]
    )
    with pytest.raises(ValueError, match="positional"):
        read_stage_parquet(
            spark, [os.path.join(stage, "f.parquet")], CUST_SCHEMA
        )


def test_unknown_stage_format_raises(spark, tmp_path):
    from example_dms_dataexport_spark.sources.stage import stage_extension

    # avro graduated to a (capability-gated) supported format; protobuf
    # stands in as the genuinely-unknown one
    with pytest.raises(ValueError, match="unsupported"):
        stage_extension("protobuf")


# ---------------------------------------------------------------------------
# versioned snapshots (time travel)
# ---------------------------------------------------------------------------


def test_versioned_overwrite_time_travel_and_retention(spark, tmp_path):
    import pyspark.sql.functions as F

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    for i in (1, 2, 3):
        df = spark.range(i * 10).withColumn("batch", F.lit(i))
        v = wh.overwrite_versioned(df, "t", meta={"batch": i}, retain=2)
        assert v == i
    # current state = v3; plain read() resolves the pointer too
    assert wh.read_version(spark, "t").count() == 30
    assert wh.read(spark, "t").count() == 30
    # time travel to the retained previous version
    old = wh.read_version(spark, "t", version=2)
    assert old.count() == 20
    assert old.select(F.max("batch")).first()[0] == 2
    # v1 fell out of retention: not resolvable, directory pruned
    with pytest.raises(KeyError, match="not retained"):
        wh.read_version(spark, "t", version=1)
    assert not (tmp_path / "wh" / "t" / "_v00001").exists()
    assert sorted(wh.versions("t")) == [2, 3]
    assert wh.versions("t")[3]["meta"] == {"batch": 3}


def test_versioned_reader_survives_concurrent_overwrite(spark, tmp_path):
    """A reader that resolved version N keeps valid files while a writer
    commits N+1 — the concurrent-reader guarantee plain overwrite's
    delete-on-swap cannot give."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite_versioned(spark.range(100), "t", retain=2)
    reader = wh.read_version(spark, "t")  # resolves v1's file list
    wh.overwrite_versioned(spark.range(5), "t", retain=2)  # commits v2
    assert reader.count() == 100  # v1 files still on disk (retained)
    assert wh.read_version(spark, "t").count() == 5


def test_versioned_writer_fence_blocks_second_writer(spark, tmp_path):
    """Single-writer is ENFORCED, not just documented: while one writer
    holds the fence, a second overwrite_versioned raises loudly instead
    of silently losing a commit in the _version.json read-modify-write."""
    from example_dms_dataexport_spark.sources.warehouse import (
        ConcurrentWriteError,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite_versioned(spark.range(3), "t")
    with wh._write_fence("t"):  # writer A mid-commit
        with pytest.raises(ConcurrentWriteError, match="another writer"):
            wh.overwrite_versioned(spark.range(4), "t")
    # fence released: the next commit proceeds and no version was burned
    assert wh.overwrite_versioned(spark.range(4), "t") == 2
    # the fence is also released on failure paths (lock file gone)
    assert not os.path.exists(wh._mutation_lock_path("t"))


def test_versioned_interleaved_writers_lose_nothing(spark, tmp_path):
    """Two genuinely concurrent writers: every writer either commits or
    raises ConcurrentWriteError, and the final current version equals
    the number of successful commits — no commit is silently lost."""
    import threading

    from example_dms_dataexport_spark.sources.warehouse import (
        ConcurrentWriteError,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    outcomes = []
    lock = threading.Lock()

    def writer(i):
        try:
            v = wh.overwrite_versioned(spark.range(10 + i), "t", retain=4)
            with lock:
                outcomes.append(("ok", v))
        except ConcurrentWriteError:
            with lock:
                outcomes.append(("fenced", None))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    n_ok = sum(1 for k, _ in outcomes if k == "ok")
    assert n_ok >= 1
    committed = sorted(v for k, v in outcomes if k == "ok")
    assert committed == list(range(1, n_ok + 1))  # dense, none lost
    assert wh.versions("t")  # pointer resolvable
    assert max(wh.versions("t")) == n_ok
    assert wh.read_version(spark, "t").count() >= 10


def test_jsonl_export_fence_blocks_second_writer(spark, tmp_path):
    from example_dms_dataexport_spark.sources.jsonl import write_jsonl_shards
    from example_dms_dataexport_spark.sources.warehouse import (
        ConcurrentWriteError,
    )

    out = tmp_path / "corpus"
    lock = tmp_path / f".lock-jsonl-{out.name}"
    lock.write_text("pid=held")
    with pytest.raises(ConcurrentWriteError, match="already running"):
        write_jsonl_shards(spark.range(5), str(out))
    lock.unlink()
    manifest = write_jsonl_shards(spark.range(5), str(out))
    assert manifest["total_rows"] == 5
    assert not lock.exists()  # released after a successful export


def test_group_commit_consistent_multi_table_snapshots(spark, tmp_path):
    """Cross-table atomicity: readers resolving a group commit see every
    member at THAT commit — current, time travel, and while a newer
    commit publishes."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    c1 = wh.commit_group(
        {"orders": spark.range(10), "items": spark.range(100)}, "core"
    )
    snap1 = wh.read_group(spark, "core")  # resolved BEFORE commit 2
    c2 = wh.commit_group(
        {"orders": spark.range(20), "items": spark.range(200)}, "core"
    )
    assert (c1, c2) == (1, 2)
    # the pre-publish resolution stays internally consistent (commit 1)
    assert (snap1["orders"].count(), snap1["items"].count()) == (10, 100)
    cur = wh.read_group(spark, "core")
    assert (cur["orders"].count(), cur["items"].count()) == (20, 200)
    # multi-table time travel to a retained commit
    old = wh.read_group(spark, "core", commit=1)
    assert (old["orders"].count(), old["items"].count()) == (10, 100)
    with pytest.raises(KeyError, match="not retained"):
        wh.read_group(spark, "core", commit=99)
    with pytest.raises(FileNotFoundError):
        wh.read_group(spark, "nope")
    with pytest.raises(ValueError, match="must not shrink"):
        wh.commit_group({"orders": spark.range(1)}, "core")


def test_group_commit_crash_before_flip_keeps_old_state(spark, tmp_path):
    """A writer that commits its member tables but dies before the group
    pointer flips leaves readers on the PREVIOUS consistent commit —
    never a mix — and the retain+1 member window keeps that commit's
    versions resolvable despite the orphaned attempt."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.commit_group(
        {"orders": spark.range(10), "items": spark.range(100)}, "core"
    )
    # simulate the crash: member snapshots advance, pointer does not
    wh.overwrite_versioned(spark.range(999), "orders", retain=3)
    wh.overwrite_versioned(spark.range(999), "items", retain=3)
    got = wh.read_group(spark, "core")
    assert (got["orders"].count(), got["items"].count()) == (10, 100)
    # the next successful commit supersedes the orphaned versions
    wh.commit_group(
        {"orders": spark.range(30), "items": spark.range(300)}, "core"
    )
    cur = wh.read_group(spark, "core")
    assert (cur["orders"].count(), cur["items"].count()) == (30, 300)


def test_group_commit_fence_blocks_second_writer(spark, tmp_path):
    from example_dms_dataexport_spark.sources.warehouse import (
        ConcurrentWriteError,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.commit_group({"t": spark.range(3)}, "g")
    lock = wh._group_pointer("g") + ".lock"
    with open(lock, "w") as f:
        f.write("pid=held")
    with pytest.raises(ConcurrentWriteError, match="another writer"):
        wh.commit_group({"t": spark.range(4)}, "g")
    import os

    os.remove(lock)
    assert wh.commit_group({"t": spark.range(4)}, "g") == 2


def test_erase_subjects_partitioned_scoped_rewrite(spark, tmp_path):
    """GDPR erasure EXECUTION on a hive-partitioned table: only touched
    partitions rewrite (untouched parquet mtimes unchanged), a partition
    emptied by the erasure is removed in the same atomic swap, and the
    re-audit finds zero subject rows."""
    import os
    import time

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    rows = [(u, f"v{u}", u % 4) for u in range(20)]
    df = spark.createDataFrame(rows, ["user_id", "val", "b"])
    wh.overwrite(df, "t", partition_by=["b"])
    # subjects: one user in bucket 1, plus EVERY user of bucket 2
    subjects = spark.createDataFrame(
        [(1,), (2,), (6,), (10,), (14,), (18,)], ["user_id"]
    )
    untouched = {}
    for b in (0, 3):
        d = tmp_path / "wh" / "t" / f"b={b}"
        untouched[b] = {
            f: os.path.getmtime(d / f)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
    time.sleep(0.05)  # let any illegal rewrite move mtimes
    stats = wh.erase_subjects(spark, "t", "user_id", subjects)
    assert stats == {
        "rows_before": 20,
        "rows_erased": 6,
        "rows_after": 14,
        "touched_partitions": 2,
        "purged_versions": None,
    }
    back = wh.read(spark, "t")
    assert back.count() == 14
    assert (
        back.join(subjects, "user_id", "left_semi").count() == 0
    )  # re-audit: nothing remains
    assert not (tmp_path / "wh" / "t" / "b=2").exists()  # emptied dir gone
    for b, files in untouched.items():
        d = tmp_path / "wh" / "t" / f"b={b}"
        now = {
            f: os.path.getmtime(d / f)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
        assert now == files  # never read-for-write, never rewritten


def test_erase_subjects_versioned_retention_expiry(spark, tmp_path):
    """Versioned erasure: the survivors commit as the next snapshot and
    retain=1 prunes every pre-erasure snapshot — after the call no
    retained version (and no on-disk directory) holds the subject's
    rows, which is what makes the erasure actually complete."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(u, f"v{u}") for u in range(10)], ["user_id", "val"]
    )
    wh.overwrite_versioned(df, "t", retain=3)
    subjects = spark.createDataFrame([(3,), (7,), (9,)], ["user_id"])
    stats = wh.erase_subjects(spark, "t", "user_id", subjects)
    assert (stats["rows_before"], stats["rows_erased"], stats["rows_after"]) == (
        10, 3, 7,
    )
    assert sorted(wh.versions("t")) == [2]  # pre-erasure snapshot expired
    assert not (tmp_path / "wh" / "t" / "_v00001").exists()
    back = wh.read_version(spark, "t")
    assert back.count() == 7
    assert back.join(subjects, "user_id", "left_semi").count() == 0


def test_erase_subjects_bucketed_preserves_layout(spark, tmp_path):
    """Erasure on a bucketed table must rewrite THROUGH write_bucketed:
    a plain overwrite would silently destroy the bucket files while the
    spec (and catalog) still claimed the layout — the zero-exchange
    join contract would then return wrong joins, not an error."""
    from example_dms_dataexport_spark.plans import exchange_count

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(u, f"v{u}") for u in range(16)], ["user_id", "val"]
    )
    wh.write_bucketed(df, "t", ["user_id"], 4, sort_by=["user_id"])
    dim = spark.createDataFrame(
        [(u, u % 3) for u in range(16)], ["user_id", "seg"]
    )
    wh.write_bucketed(dim, "d", ["user_id"], 4, sort_by=["user_id"])

    subjects = spark.createDataFrame([(3,), (7,)], ["user_id"])
    stats = wh.erase_subjects(spark, "t", "user_id", subjects)
    assert stats["rows_erased"] == 2
    # spec survived and the co-located join is still exchange-free
    t = wh.read_bucketed(spark, "t")
    d = wh.read_bucketed(spark, "d")
    joined = t.hint("merge").join(d, t["user_id"] == d["user_id"])
    assert exchange_count(joined) == 0
    assert joined.count() == 14
    assert t.join(subjects, "user_id", "left_semi").count() == 0


def test_erase_subjects_plain_overwrite(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(u, f"v{u}") for u in range(8)], ["user_id", "val"]
    )
    wh.overwrite(df, "t")
    subjects = spark.createDataFrame([(0,), (5,)], ["user_id"])
    stats = wh.erase_subjects(spark, "t", "user_id", subjects)
    assert (stats["rows_erased"], stats["touched_partitions"]) == (2, None)
    back = wh.read(spark, "t")
    assert back.count() == 6
    assert back.join(subjects, "user_id", "left_semi").count() == 0


def test_versioned_orphan_snapshot_swept_and_validation(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite_versioned(spark.range(3), "t")
    # simulate a crash between data write and pointer flip: an orphaned
    # snapshot dir with no pointer entry
    orphan = tmp_path / "wh" / "t" / "_v00099"
    orphan.mkdir()
    (orphan / "junk").write_text("x")
    wh.overwrite_versioned(spark.range(4), "t")
    assert not orphan.exists()  # next writer sweeps it
    with pytest.raises(ValueError, match="retain"):
        wh.overwrite_versioned(spark.range(1), "t", retain=0)
    with pytest.raises(FileNotFoundError):
        wh.read_version(spark, "nope")


def test_versioned_snapshots_feed_snapshot_diff(spark, tmp_path):
    """Time travel composes with the CDC generator: diffing two retained
    versions yields the change-set that replays one into the other."""
    from example_dms_dataexport_spark.merge import apply_changes
    from example_dms_dataexport_spark.operators.diff import snapshot_diff

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "val"]
    )
    v2 = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], ["id", "val"]
    )
    wh.overwrite_versioned(v1, "t", retain=2)
    wh.overwrite_versioned(v2, "t", retain=2)
    changes = snapshot_diff(
        wh.read_version(spark, "t", version=1),
        wh.read_version(spark, "t", version=2),
        pks=["id"],
    )
    replayed = apply_changes(
        wh.read_version(spark, "t", version=1), changes, pks=["id"]
    )
    assert sorted(map(tuple, replayed.collect())) == sorted(
        map(tuple, v2.collect())
    )


def test_jsonl_shard_export_manifest_and_determinism(spark, tmp_path):
    import gzip
    import json as jsonlib

    from example_dms_dataexport_spark.sources.jsonl import write_jsonl_shards

    df = spark.range(1000).selectExpr(
        "id AS doc_id", "concat('text-', id) AS text"
    )
    out = str(tmp_path / "export")
    m1 = write_jsonl_shards(
        df, out, max_records_per_file=150, shuffle_by=["doc_id"], n_tasks=4
    )
    assert m1["total_rows"] == 1000
    assert m1["n_shards"] >= 7  # 1000 rows / 150-per-file across 4 tasks
    assert all(s["rows"] <= 150 for s in m1["shards"])
    # manifest committed with the data
    disk = jsonlib.load(open(os.path.join(out, "_manifest.json")))
    assert disk == m1
    # shards are valid gzipped JSONL and rows round-trip
    seen = []
    for s in m1["shards"]:
        with gzip.open(os.path.join(out, s["file"]), "rt") as f:
            lines = [jsonlib.loads(x) for x in f]
        assert len(lines) == s["rows"]
        seen.extend(lines)
    assert sorted(r["doc_id"] for r in seen) == list(range(1000))
    # deterministic decorrelation: identical re-export, atomic replace
    m2 = write_jsonl_shards(
        df, out, max_records_per_file=150, shuffle_by=["doc_id"], n_tasks=4
    )
    assert [s["rows"] for s in m2["shards"]] == [
        s["rows"] for s in m1["shards"]
    ]


def test_versioned_overwrite_applies_cluster_layout(spark, tmp_path):
    import pyarrow.parquet as pq

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.range(10_000).selectExpr("id", "id % 97 AS k")
    wh.overwrite_versioned(df, "t", cluster_by=["id"], cluster_partitions=4)
    vdir = tmp_path / "wh" / "t" / "_v00001"
    files = sorted(p for p in vdir.iterdir() if p.name.endswith(".parquet"))
    assert len(files) == 4
    # range-clustered: per-file id bands are narrow and non-overlapping
    bands = []
    for p in files:
        md = pq.read_metadata(str(p))
        col = md.row_group(0).column(0).statistics
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        bands.append((lo, hi))
    bands.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(bands, bands[1:]):
        assert a_hi < b_lo


# --- zone map: manifest-level file pruning ---------------------------------

from pyspark.sql import functions as F  # noqa: E402


def _zm_table(spark, wh, n=200, files=8, stat=True):
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 2.5).alias("v"),
    )
    wh.overwrite(
        df,
        "zt",
        cluster_by=["k"],
        cluster_partitions=files,
        stat_cols=["k"] if stat else None,
    )
    return df


def test_zonemap_committed_with_overwrite_and_prunes(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _zm_table(spark, wh)
    zm = wh.zonemap("zt")
    assert zm is not None and zm["stat_cols"] == ["k"]
    n_files = len(zm["files"])
    assert n_files > 1
    assert sum(s["n"] for s in zm["files"].values()) == 200

    out = wh.read_zoned(spark, "zt", "k", lo=10, hi=30)
    got = sorted(r.k for r in out.collect())
    assert got == list(range(10, 31))
    # the scan must have PLANNED over a strict subset of the files
    assert 0 < len(out.inputFiles()) < n_files


def test_zonemap_unbounded_and_empty_range(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _zm_table(spark, wh)
    assert wh.read_zoned(spark, "zt", "k", lo=190).count() == 10
    assert wh.read_zoned(spark, "zt", "k", hi=9).count() == 10
    empty = wh.read_zoned(spark, "zt", "k", lo=1000, hi=2000)
    assert empty.count() == 0
    assert empty.columns == ["k", "grp", "v"]  # schema survives


def test_zonemap_unknown_column_and_missing_map(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _zm_table(spark, wh)
    with pytest.raises(ValueError, match="not in zone map"):
        wh.read_zoned(spark, "zt", "v", lo=0)
    wh2 = ParquetWarehouse(str(tmp_path / "wh2"))
    _zm_table(spark, wh2, stat=False)
    with pytest.raises(ValueError, match="no _zonemap"):
        wh2.read_zoned(spark, "zt", "k", lo=0)


def test_zonemap_rebuilt_automatically_by_compaction(spark, tmp_path):
    """A zone-mapped table stays zone-mapped through maintenance:
    compaction commits the map for the compacted layout atomically with
    the rewrite (carried entries verbatim, new files' entries over the
    stage), so it is exact and no state ever has a map describing
    replaced files."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _zm_table(spark, wh)
    assert wh.compact(spark, "zt", target_file_bytes=1 << 30) >= 1
    zm = wh.zonemap("zt")
    assert zm is not None  # auto-rebuilt, same stat cols
    assert zm["stat_cols"] == ["k"]
    assert zm == wh.write_zonemap(spark, "zt", ["k"])  # and exact
    got = sorted(r.k for r in wh.read_zoned(spark, "zt", "k", 0, 5).collect())
    assert got == [0, 1, 2, 3, 4, 5]


def test_zonemap_partitioned_table_keeps_partition_column(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p")
    )
    wh.overwrite(df, "pt", partition_by=["p"], stat_cols=["k"])
    out = wh.read_zoned(spark, "pt", "k", lo=20, hi=40)
    assert set(out.columns) == {"k", "p"}
    rows = out.collect()
    assert sorted(r.k for r in rows) == list(range(20, 41))
    assert all(r.p == r.k % 4 for r in rows)  # basePath restored p


def test_zonemap_all_null_stat_files_are_droppable(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    a = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "s"])
    b = spark.createDataFrame(
        [(None, "n1"), (None, "n2")], "k int, s string"
    )
    wh.overwrite(
        a.unionByName(b).repartition(1, "s"), "nt", stat_cols=["k"]
    )
    wh.write_zonemap(spark, "nt", ["k"])  # rebuild post-hoc path too
    out = wh.read_zoned(spark, "nt", "k", lo=0, hi=10)
    assert sorted(r.k for r in out.collect()) == [1, 2]


def test_zonemap_multicolumn_with_zorder(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"),
        (F.col("id") / F.lit(64)).cast("long").alias("b"),
        F.col("id").alias("v"),
    )
    wh.overwrite(
        df,
        "zz",
        zorder_by=["a", "b"],
        cluster_partitions=16,
        stat_cols=["a", "b"],
    )
    n_files = len(wh.zonemap("zz")["files"])
    out = wh.read_zoned(spark, "zz", ranges={"a": (10, 13), "b": (20, 23)})
    rows = out.collect()
    assert len(rows) == 16
    assert all(10 <= r.a <= 13 and 20 <= r.b <= 23 for r in rows)
    # the conjunction must prune harder than either column alone
    n_both = len(out.inputFiles())
    n_a = len(wh.read_zoned(spark, "zz", "a", 10, 13).inputFiles())
    assert 0 < n_both <= n_a < n_files
    with pytest.raises(ValueError, match="mutually exclusive"):
        wh.read_zoned(spark, "zz", "a", 0, 1, ranges={"b": (0, 1)})
    with pytest.raises(ValueError, match="col"):
        wh.read_zoned(spark, "zz")


def test_zonemap_versioned_snapshots(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    v1 = wh.overwrite_versioned(
        spark.range(100).select(F.col("id").alias("k")),
        "vt",
        cluster_by=["k"],
        cluster_partitions=4,
        stat_cols=["k"],
    )
    v2 = wh.overwrite_versioned(
        spark.range(100, 200).select(F.col("id").alias("k")),
        "vt",
        cluster_by=["k"],
        cluster_partitions=4,
        stat_cols=["k"],
    )
    # current snapshot: v2's data, pruned
    cur = wh.read_zoned(spark, "vt", "k", lo=150, hi=160)
    assert sorted(r.k for r in cur.collect()) == list(range(150, 161))
    assert len(cur.inputFiles()) < len(wh.zonemap("vt")["files"]) or (
        len(wh.zonemap("vt")["files"]) == 1
    )
    # time travel: v1's map prunes v1's files
    old = wh.read_zoned(spark, "vt", "k", lo=10, hi=20, version=v1)
    assert sorted(r.k for r in old.collect()) == list(range(10, 21))
    assert wh.zonemap("vt", version=v1) is not None
    # the current map must not see v1's range at all
    assert wh.read_zoned(spark, "vt", "k", lo=10, hi=20).count() == 0
    with pytest.raises(ValueError, match="versioned"):
        wh.write_zonemap(spark, "vt", ["k"])
    with pytest.raises(KeyError):
        wh.read_zoned(spark, "vt", "k", lo=0, version=99)
    assert v2 == v1 + 1


# --- declared per-table layout (additional_config variant column) ----------


def test_declared_layout_drives_full_load_and_cdc_rewrite(
    spark, tmp_path, landing
):
    import json as _json

    store = MetadataStore(str(tmp_path / "meta.json"))
    store.register(
        TableMeta(
            full_path="erp/customer",
            db_schema="erp",
            db_table="customer",
            stage=landing,
            primary_keys=["c_custkey"],
            additional_config=_json.dumps(
                {
                    "layout": {
                        "cluster_by": ["c_custkey"],
                        "cluster_partitions": 2,
                        "stat_cols": ["c_custkey"],
                    }
                }
            ),
        )
    )
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    full_load(spark, store, wh, "erp/customer", schema=CUST_SCHEMA)
    # the declared layout produced a zone map atomically with the load
    assert wh.zonemap("erp_customer") is not None
    assert {
        r.c_custkey
        for r in wh.read_zoned(spark, "erp_customer", "c_custkey", 2, 3)
        .collect()
    } == {2, 3}

    # a CDC batch (full rewrite — no partition_by declared) must land
    # re-clustered with a FRESH map covering the merged state
    write_file(
        landing,
        "erp/customer/20240105-000000001.csv",
        ["U,2,bob9,29.0", "I,9,zoe,90.0"],
    )
    assert incremental_load(spark, store, wh, "erp/customer").startswith(
        "Rows affected:"
    )
    zm = wh.zonemap("erp_customer")
    assert zm is not None
    assert sum(s["n"] for s in zm["files"].values()) == 4  # 1,2,3,9
    assert {
        r.c_custkey
        for r in wh.read_zoned(spark, "erp_customer", "c_custkey", 9, 99)
        .collect()
    } == {9}


def test_declared_partition_layout_scopes_cdc(spark, tmp_path, landing):
    import json as _json

    store = MetadataStore(str(tmp_path / "meta.json"))
    store.register(
        TableMeta(
            full_path="erp/customer",
            db_schema="erp",
            db_table="customer",
            stage=landing,
            primary_keys=["c_custkey"],
            additional_config=_json.dumps(
                {"layout": {"partition_by": ["c_custkey"]}}
            ),
        )
    )
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    full_load(spark, store, wh, "erp/customer", schema=CUST_SCHEMA)
    tdir = wh.path("erp_customer")
    assert os.path.isdir(os.path.join(tdir, "c_custkey=1"))  # hive layout
    p3 = os.path.join(tdir, "c_custkey=3")
    mtime_before = max(
        os.path.getmtime(os.path.join(p3, f)) for f in os.listdir(p3)
    )
    write_file(
        landing,
        "erp/customer/20240105-000000001.csv",
        ["U,2,bob9,29.0"],
    )
    # no explicit partition_by argument — the DECLARED layout scopes it
    assert incremental_load(spark, store, wh, "erp/customer").startswith(
        "Rows affected:"
    )
    assert rows_of(spark, wh) == {
        (1, "alice", 10.5),
        (2, "bob9", 29.0),
        (3, "carol", 30.25),
    }
    # untouched partition's files were never rewritten
    mtime_after = max(
        os.path.getmtime(os.path.join(p3, f)) for f in os.listdir(p3)
    )
    assert mtime_after == mtime_before


def test_layout_validation_fails_loudly():
    m = TableMeta(
        full_path="a/b",
        db_schema="a",
        db_table="b",
        stage="/s",
        additional_config='{"layout": {"clutser_by": ["x"]}}',
    )
    with pytest.raises(ValueError, match="unknown layout key"):
        m.layout()
    bad = TableMeta(
        full_path="a/b",
        db_schema="a",
        db_table="b",
        stage="/s",
        additional_config="{not json",
    )
    with pytest.raises(ValueError, match="not valid JSON"):
        bad.layout()
    assert (
        TableMeta(
            full_path="a/b", db_schema="a", db_table="b", stage="/s"
        ).layout()
        == {}
    )


def test_compact_noop_keeps_zonemap(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _zm_table(spark, wh)
    # already compact at a huge target: nothing rewritten
    assert wh.compact(spark, "zt", target_file_bytes=1 << 30) in (0, 1)
    wh.write_zonemap(spark, "zt", ["k"])
    assert wh.compact(spark, "zt", target_file_bytes=1 << 30) == 0
    assert wh.zonemap("zt") is not None  # idempotent no-op kept the map


def test_refused_erase_keeps_zonemap(spark, tmp_path):
    """An erase refused before any write (pending merge-on-read deletes
    would resurrect) leaves the table, its zone map included, as it
    was."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _zm_table(spark, wh)
    zm = wh.zonemap("zt")
    wh.delete_keys(spark, "zt", "k", [2])
    subj = spark.createDataFrame([(1,)], ["k"])
    with pytest.raises(ValueError, match="pending merge-on-read deletes"):
        wh.erase_subjects(spark, "zt", "k", subj)
    assert wh.zonemap("zt") == zm  # refused call left the map


def test_layout_rejects_non_object_config():
    m = TableMeta(
        full_path="a/b",
        db_schema="a",
        db_table="b",
        stage="/s",
        additional_config="[1, 2]",
    )
    with pytest.raises(ValueError, match="JSON object"):
        m.layout()


def test_group_commit_state_loaded_inside_fence(spark, tmp_path, monkeypatch):
    """The lost-update fix (VERDICT r9): commit_group's read-modify-write
    of the group pointer must load state UNDER the O_EXCL fence, so a
    writer serializing through the lock after another's commit always
    sees that commit's number. Pinned by spying on _load_group: during
    commit_group it must run while the lock file exists."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.commit_group({"t": spark.range(3)}, "g")
    lock = wh._group_pointer("g") + ".lock"
    seen = []
    orig = ParquetWarehouse._load_group

    def spy(self, group):
        seen.append(os.path.exists(lock))
        return orig(self, group)

    monkeypatch.setattr(ParquetWarehouse, "_load_group", spy)
    assert wh.commit_group({"t": spark.range(4)}, "g") == 2
    monkeypatch.undo()
    assert seen and all(seen), "group state loaded outside the fence"
    # and the serialized second writer really saw the first's commit
    assert sorted(wh._load_group("g")["commits"]) == [1, 2]


def test_group_commit_interleaved_writers_lose_nothing(spark, tmp_path):
    """Two concurrent group writers: every writer either commits or
    raises, successful commit numbers are dense, and every successful
    commit's mapping is resolvable — no group commit silently lost."""
    import threading

    from example_dms_dataexport_spark.sources.warehouse import (
        ConcurrentWriteError,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    outcomes = []
    olock = threading.Lock()

    def writer(i):
        try:
            c = wh.commit_group(
                {"t": spark.range(10 + i)}, "g", retain=4
            )
            with olock:
                outcomes.append(("ok", c))
        except ConcurrentWriteError:
            with olock:
                outcomes.append(("fenced", None))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    committed = sorted(c for k, c in outcomes if k == "ok")
    assert committed == list(range(1, len(committed) + 1))  # dense
    assert len(committed) >= 1
    state = wh._load_group("g")
    assert state["current"] == max(committed)
    for c in committed:
        assert wh.read_group(spark, "g", commit=c)["t"].count() >= 10


def test_stale_writer_lock_broken_when_holder_dead(spark, tmp_path):
    """Fence staleness escape: a lock held by a provably-dead process on
    THIS host is broken loudly (warning) and the commit proceeds; locks
    from other hosts or with malformed holders still fail closed."""
    import socket
    import subprocess
    import warnings as _warnings

    from example_dms_dataexport_spark.sources.warehouse import (
        ConcurrentWriteError,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite_versioned(spark.range(3), "t")
    lock = wh._mutation_lock_path("t")

    p = subprocess.Popen(["true"])
    p.wait()
    with open(lock, "w") as f:
        f.write(f"pid={p.pid} host={socket.gethostname()}")
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        assert wh.overwrite_versioned(spark.range(4), "t") == 2
    assert any("stale writer lock" in str(w.message) for w in rec)
    assert not os.path.exists(lock)

    # other host: liveness unprobeable -> fail closed
    with open(lock, "w") as f:
        f.write(f"pid={p.pid} host=some-other-host")
    with pytest.raises(ConcurrentWriteError, match="another writer"):
        wh.overwrite_versioned(spark.range(5), "t")
    os.remove(lock)

    # malformed holder -> fail closed
    with open(lock, "w") as f:
        f.write("pid=held")
    with pytest.raises(ConcurrentWriteError, match="another writer"):
        wh.overwrite_versioned(spark.range(5), "t")
    os.remove(lock)

    # live same-host pid -> fail closed
    with open(lock, "w") as f:
        f.write(f"pid={os.getpid()} host={socket.gethostname()}")
    with pytest.raises(ConcurrentWriteError, match="another writer"):
        wh.overwrite_versioned(spark.range(5), "t")
    os.remove(lock)


def test_read_zoned_unbounded_range_filters_nulls(spark, tmp_path):
    """ADVICE r9: an unbounded range prunes all-NULL files, so NULL rows
    in KEPT files must be filtered too — pruning and residual filtering
    agree on 'a range predicate never matches NULL'."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    mixed = spark.createDataFrame(
        [(1, "a"), (None, "b")], "k int, s string"
    ).repartition(1)
    all_null = spark.createDataFrame(
        [(None, "c"), (None, "d")], "k int, s string"
    ).repartition(1)
    wh.overwrite(
        mixed.unionByName(all_null).repartition(2, "s"), "nt",
        stat_cols=["k"],
    )
    out = wh.read_zoned(spark, "nt", "k")  # lo=None, hi=None
    assert [r.k for r in out.collect()] == [1]
    # multi-col ranges= spelling behaves identically
    out2 = wh.read_zoned(spark, "nt", ranges={"k": (None, None)})
    assert [r.k for r in out2.collect()] == [1]


def test_erase_subjects_reports_purged_versions(spark, tmp_path):
    """A versioned erase with retain=1 discards ALL pre-erasure history
    by design — the return dict now names the purged versions and a
    warning surfaces it; non-versioned layouts return None."""
    import warnings as _warnings

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "keep"), (2, "erase"), (3, "keep")], "uid int, s string"
    )
    wh.overwrite_versioned(df, "vt", retain=3)
    wh.overwrite_versioned(df, "vt", retain=3)  # two retained versions
    subj = spark.createDataFrame([(2,)], "uid int").select("uid")
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        res = wh.erase_subjects(spark, "vt", "uid", subj, retain=1)
    assert res["rows_erased"] == 1
    assert res["purged_versions"] == [1, 2]
    assert any("purged pre-erasure" in str(w.message) for w in rec)
    # the purged snapshots are really gone (GDPR-complete)
    assert sorted(wh.versions("vt")) == [3]

    wh.overwrite(df, "pt")
    res_plain = wh.erase_subjects(spark, "pt", "uid", subj)
    assert res_plain["purged_versions"] is None


def test_commit_group_linked_snapshots_survive_table_rewrites(spark, tmp_path):
    """Hard-linked group snapshots: zero-copy (same inodes as the live
    table at commit time), stable across later overwrites of the
    working tables (os.replace removes names, not inodes), retention-
    pruned with the pointer, and readable per-commit incl. partitioned
    members."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(spark.range(10).toDF("k"), "flat")
    wh.overwrite(
        spark.range(20).selectExpr("id AS k", "id % 4 AS p"),
        "parts",
        partition_by=["p"],
    )
    c1 = wh.commit_group_linked(["flat", "parts"], "cycle")
    assert c1 == 1
    snap1 = wh.read_group(spark, "cycle")
    assert snap1["flat"].count() == 10
    assert snap1["parts"].count() == 20
    # linked, not copied: snapshot files share inodes with the table
    flat_dir = wh.path("flat")
    table_inos = {
        os.stat(os.path.join(flat_dir, n)).st_ino
        for n in os.listdir(flat_dir)
        if n.endswith(".parquet")
    }
    snap_dir = os.path.join(
        str(tmp_path / "wh"), "_group_cycle", "c00001", "flat"
    )
    snap_inos = {
        os.stat(os.path.join(snap_dir, n)).st_ino
        for n in os.listdir(snap_dir)
        if n.endswith(".parquet")
    }
    assert snap_inos == table_inos
    # later cycles rewrite the working tables; commit 1 stays intact
    wh.overwrite(spark.range(99).toDF("k"), "flat")
    wh.overwrite(
        spark.range(8).selectExpr("id AS k", "id % 4 AS p"),
        "parts",
        partition_by=["p"],
    )
    c2 = wh.commit_group_linked(["flat", "parts"], "cycle")
    assert c2 == 2
    old = wh.read_group(spark, "cycle", commit=1)
    assert (old["flat"].count(), old["parts"].count()) == (10, 20)
    cur = wh.read_group(spark, "cycle")
    assert (cur["flat"].count(), cur["parts"].count()) == (99, 8)
    # retention (default 2): commit 1 expires when commit 3 lands,
    # and its snapshot dir is swept
    wh.commit_group_linked(["flat", "parts"], "cycle")
    with pytest.raises(KeyError, match="not retained"):
        wh.read_group(spark, "cycle", commit=1)
    assert not os.path.exists(
        os.path.join(str(tmp_path / "wh"), "_group_cycle", "c00001")
    )
    # guards: shrink + versioned member
    with pytest.raises(ValueError, match="must not shrink"):
        wh.commit_group_linked(["flat"], "cycle")
    wh.overwrite_versioned(spark.range(3).toDF("k"), "vt")
    with pytest.raises(ValueError, match="versioned"):
        wh.commit_group_linked(["flat", "parts", "vt"], "cycle")


def test_commit_group_linked_sweeps_crash_orphans(spark, tmp_path):
    """A crash between linking and the pointer flip leaves an orphan
    snapshot dir; the next successful commit sweeps it."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(spark.range(5).toDF("k"), "t")
    wh.commit_group_linked(["t"], "g")
    orphan = os.path.join(str(tmp_path / "wh"), "_group_g", "c09999")
    os.makedirs(os.path.join(orphan, "t"))
    wh.commit_group_linked(["t"], "g")
    assert not os.path.exists(orphan)
    assert wh.read_group(spark, "g")["t"].count() == 5


def test_run_queue_group_publishes_whole_cycles(spark, tmp_path, landing):
    """The cross-table consistency the reference's task DAG cannot give
    (each Snowflake MERGE commits independently): run_queue(group=...)
    publishes one linked snapshot per cycle, and a reader resolving the
    group mid-cycle — after one table loaded but before the cycle
    finished — still sees the PREVIOUS whole cycle for every member."""
    write_file(landing, "erp/orders/LOAD00000001.csv", ["1,100.0", "2,250.5"])
    store = MetadataStore(str(tmp_path / "meta.json"))
    store.register(
        TableMeta(
            full_path="erp/customer",
            db_schema="erp",
            db_table="customer",
            stage=landing,
            primary_keys=["c_custkey"],
        )
    )
    store.register(
        TableMeta(
            full_path="erp/orders",
            db_schema="erp",
            db_table="orders",
            stage=landing,
            primary_keys=["o_orderkey"],
        )
    )
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    schemas = {
        "erp/customer": CUST_SCHEMA,
        "erp/orders": StructType(
            [
                StructField("o_orderkey", LongType()),
                StructField("o_total", DoubleType()),
            ]
        ),
    }
    items = [
        WorkItem("erp/customer", "B", 0),
        WorkItem("erp/orders", "B", 1),
    ]
    res = run_queue(spark, store, wh, items, schemas, group="sync")
    assert res.errors == []
    assert res.group_commit == 1
    cycle1 = wh.read_group(spark, "sync")
    assert cycle1["erp_customer"].count() == 3
    assert cycle1["erp_orders"].count() == 2

    # cycle 2 lands CDC for BOTH tables; simulate mid-cycle by loading
    # only customer directly (no group commit yet)
    write_file(
        landing,
        "erp/customer/20240105-000000009.csv",
        ["U,1,alice2,11.0", "U,4,dave,40.0"],
    )
    write_file(
        landing,
        "erp/orders/20240105-000000009.csv",
        ["U,2,999.0", "U,3,300.0"],
    )
    incremental_load(spark, store, wh, "erp/customer")
    mid = wh.read_group(spark, "sync")  # reader mid-cycle
    assert mid["erp_customer"].count() == 3  # previous cycle, not the mix
    assert mid["erp_orders"].count() == 2
    # the cycle completes: orders' CDC applies and the snapshot flips
    res2 = run_queue(
        spark,
        store,
        wh,
        [WorkItem("erp/orders", "I", 0)],
        schemas,
        group="sync",
    )
    assert res2.errors == []
    assert res2.group_commit == 2
    # NOTE the snapshot is a CYCLE boundary: customer's mid-cycle load is
    # included in commit 2 (the boundary is when the queue drains, and
    # customer's state at that point includes its CDC)
    cycle2 = wh.read_group(spark, "sync")
    assert {
        (r.c_custkey, r.c_name) for r in cycle2["erp_customer"].collect()
    } == {(1, "alice2"), (2, "bob"), (3, "carol"), (4, "dave")}
    assert {
        (r.o_orderkey, r.o_total) for r in cycle2["erp_orders"].collect()
    } == {(1, 100.0), (2, 999.0), (3, 300.0)}
    # and the previous cycle remains resolvable (multi-table time travel)
    old = wh.read_group(spark, "sync", commit=1)
    assert old["erp_customer"].count() == 3
    assert {r.o_total for r in old["erp_orders"].collect()} == {100.0, 250.5}


def test_run_queue_group_survives_failed_first_load(spark, tmp_path, landing):
    """A target whose FIRST load failed (no committed table state) must
    not crash the cycle's group commit: the commit proceeds with the
    loadable members and the failed item stays in RunResult.errors."""
    store = MetadataStore(str(tmp_path / "meta.json"))
    store.register(
        TableMeta(
            full_path="erp/customer",
            db_schema="erp",
            db_table="customer",
            stage=landing,
            primary_keys=["c_custkey"],
        )
    )
    store.register(
        TableMeta(
            full_path="erp/ghost",
            db_schema="erp",
            db_table="ghost",  # no landing files: full load raises
            stage=landing,
            primary_keys=["g_id"],
        )
    )
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    res = run_queue(
        spark,
        store,
        wh,
        [WorkItem("erp/customer", "F", 0), WorkItem("erp/ghost", "F", 1)],
        {"erp/customer": CUST_SCHEMA},
        group="sync",
    )
    assert res.errors and res.errors[0][0] == "erp/ghost"
    assert res.group_commit == 1
    snap = wh.read_group(spark, "sync")
    assert set(snap) == {"erp_customer"}
    assert snap["erp_customer"].count() == 3


def test_stale_lock_break_token_protocol(spark, tmp_path):
    """Lock removal is serialized by the .break token: a live breaker's
    token fails closed, a crashed breaker's token is cleared, and the
    under-token re-read refuses to remove a lock a live writer
    re-acquired meanwhile."""
    import socket
    import subprocess

    from example_dms_dataexport_spark.sources.warehouse import (
        ConcurrentWriteError,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite_versioned(spark.range(3), "t")
    lock = wh._mutation_lock_path("t")
    p = subprocess.Popen(["true"])
    p.wait()
    dead = f"pid={p.pid} host={socket.gethostname()}"
    live = f"pid={os.getpid()} host={socket.gethostname()}"

    # another breaker (live) holds the token -> fail closed
    with open(lock, "w") as f:
        f.write(dead)
    with open(lock + ".break", "w") as f:
        f.write(live)
    with pytest.raises(ConcurrentWriteError):
        wh.overwrite_versioned(spark.range(4), "t")
    assert os.path.exists(lock)  # dead lock NOT removed under foreign token
    os.remove(lock + ".break")

    # a CRASHED breaker's token (dead pid) is cleared and the break runs
    with open(lock + ".break", "w") as f:
        f.write(dead)
    import warnings as _warnings

    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        assert wh.overwrite_versioned(spark.range(4), "t") == 2
    assert any("stale writer lock" in str(w.message) for w in rec)
    assert not os.path.exists(lock + ".break")
    assert not os.path.exists(lock)

    # under-token re-read: _break_stale_lock must refuse when the lock
    # now names a LIVE writer (the exact lost-fence race)
    with open(lock, "w") as f:
        f.write(live)
    assert wh._break_stale_lock(lock, "t") is False
    assert os.path.exists(lock)
    os.remove(lock)


def test_group_commit_dataframe_style_sweeps_expired_linked_snaps(
    spark, tmp_path
):
    """A group interleaving linked and DataFrame commits: when the
    DataFrame-style commit's retention expires a LINKED commit, its
    hard-link snapshot dir is swept too (no leaked whole-table
    snapshots)."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(spark.range(5).toDF("k"), "t")
    wh.commit_group_linked(["t"], "g")  # commit 1 (linked)
    snap1 = os.path.join(str(tmp_path / "wh"), "_group_g", "c00001")
    assert os.path.isdir(snap1)
    # DataFrame-style commits 2 and 3 (retain=2) expire commit 1
    wh.commit_group({"t": spark.range(6).toDF("k")}, "g")
    assert os.path.isdir(snap1)  # still retained (commits {1, 2})
    wh.commit_group({"t": spark.range(7).toDF("k")}, "g")
    assert not os.path.exists(snap1)  # expired AND swept
    assert wh.read_group(spark, "g")["t"].count() == 7


def test_cdc_schema_evolution_widens_types(spark, tmp_path, landing):
    """Type evolution is widening-only: int32->long and float->double
    rewrite the stored layout losslessly in the same full-rewrite
    evolution batch that adds columns; lossy changes refuse loudly."""
    from pyspark.sql.types import FloatType, IntegerType

    narrow = StructType(
        [
            StructField("c_custkey", IntegerType()),
            StructField("c_name", StringType()),
            StructField("c_acctbal", FloatType()),
        ]
    )
    store, wh = make_env(tmp_path, landing)
    full_load(spark, store, wh, "erp/customer", schema=narrow)
    stored = dict(wh.read(spark, "erp_customer").dtypes)
    assert stored == {"c_custkey": "int", "c_name": "string",
                      "c_acctbal": "float"}

    widened = StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_tier", StringType()),  # widen AND add at once
        ]
    )
    write_file(
        landing,
        "erp/customer/20240105-000000001.csv",
        ["U,2,bob2,22.5,gold", "I,4,dave,40.5,silver"],
    )
    msg = incremental_load(spark, store, wh, "erp/customer", schema=widened)
    assert msg.startswith("Rows affected")
    out = wh.read(spark, "erp_customer")
    assert dict(out.dtypes) == {
        "c_custkey": "bigint", "c_name": "string",
        "c_acctbal": "double", "c_tier": "string",
    }
    got = {
        (r.c_custkey, r.c_name, r.c_acctbal, r.c_tier)
        for r in out.collect()
    }
    assert got == {
        (1, "alice", 10.5, None),  # float 10.5 widened exactly
        (3, "carol", 30.25, None),
        (2, "bob2", 22.5, "gold"),
        (4, "dave", 40.5, "silver"),
    }

    # NARROWING (and any lossy change) refuses loudly
    write_file(
        landing, "erp/customer/20240106-000000001.csv", ["U,1,a,1.0,x"]
    )
    renarrowed = StructType(
        [
            StructField("c_custkey", IntegerType()),  # bigint -> int
            StructField("c_name", StringType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_tier", StringType()),
        ]
    )
    with pytest.raises(ValueError, match="lossless widening"):
        incremental_load(
            spark, store, wh, "erp/customer", schema=renarrowed
        )

    # long -> double is NOT a widening (silent corruption above 2^53)
    lossy = StructType(
        [
            StructField("c_custkey", DoubleType()),
            StructField("c_name", StringType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_tier", StringType()),
        ]
    )
    with pytest.raises(ValueError, match="lossless widening"):
        incremental_load(spark, store, wh, "erp/customer", schema=lossy)


def test_full_load_preserves_bucket_layout(spark, tmp_path, landing):
    """A reload of a bucketed target rewrites THROUGH write_bucketed
    with the persisted spec — the declared-layout contract; a plain
    overwrite would silently flatten the co-located-join layout."""
    store, wh = make_env(tmp_path, landing)
    full_load(spark, store, wh, "erp/customer", schema=CUST_SCHEMA)
    # retrofit the bucket layout (pinning first: write_bucketed clears
    # the dir this read feeds from), then reload from the stage
    wh.write_bucketed(
        wh.read(spark, "erp_customer").localCheckpoint(eager=True),
        "erp_customer",
        bucket_by=["c_custkey"], n_buckets=4,
    )
    n = full_load(spark, store, wh, "erp/customer", schema=CUST_SCHEMA)
    assert n == 3
    assert wh.bucket_spec("erp_customer") == {
        "bucket_by": ["c_custkey"], "n_buckets": 4, "sort_by": [],
    }
    got = {
        (r.c_custkey, r.c_name)
        for r in wh.read_bucketed(spark, "erp_customer").collect()
    }
    assert got == {(1, "alice"), (2, "bob"), (3, "carol")}


def test_replay_window_early_exits_at_zero_data_io(spark, tmp_path, landing):
    """r19 (stretch): a crash between the merge commit and the metadata
    watermark advance re-delivers the already-merged batch; the
    warehouse meta's merge high-water mark must skip the whole merge —
    no target file read or rewritten — and just heal the watermark.
    Genuinely new files past the mark still merge."""
    import os as _os

    store, wh = make_env(tmp_path, landing)
    full_load(spark, store, wh, "erp/customer", schema=CUST_SCHEMA)
    write_file(
        landing,
        "erp/customer/20240101-000000001.csv",
        ["U,2,bob2,22.0"],
    )
    assert incremental_load(spark, store, wh, "erp/customer").startswith(
        "Rows affected:"
    )
    assert wh.read_meta("erp_customer")["last_merged_file"] == (
        "20240101-000000001.csv"
    )

    def snap():
        root = wh.path("erp_customer")
        return {
            p: (_os.stat(_os.path.join(dp, p)).st_ino,
                _os.stat(_os.path.join(dp, p)).st_mtime_ns)
            for dp, _, fns in _os.walk(root)
            for p in fns
            if p.endswith(".parquet")
        }

    # simulate the crash window: watermark regresses, data + mark stay
    store.update_watermarks(
        "erp/customer", last_incremental_file="0"
    )
    before = snap()
    assert incremental_load(spark, store, wh, "erp/customer") == (
        "No files to process."
    )
    assert snap() == before  # zero data I/O: nothing read-rewritten
    assert store.get("erp/customer").last_incremental_file == (
        "20240101-000000001.csv"
    )  # watermark healed
    assert rows_of(spark, wh) == {
        (1, "alice", 10.5),
        (2, "bob2", 22.0),
        (3, "carol", 30.25),
    }

    # a genuinely new file past the mark merges even with a stale
    # watermark (the replayed prefix re-applies idempotently)
    store.update_watermarks("erp/customer", last_incremental_file="0")
    write_file(
        landing,
        "erp/customer/20240102-000000001.csv",
        ["U,4,dave,40.0"],
    )
    assert incremental_load(spark, store, wh, "erp/customer").startswith(
        "Rows affected:"
    )
    assert rows_of(spark, wh) == {
        (1, "alice", 10.5),
        (2, "bob2", 22.0),
        (3, "carol", 30.25),
        (4, "dave", 40.0),
    }
    assert wh.read_meta("erp_customer")["last_merged_file"] == (
        "20240102-000000001.csv"
    )

    # a full RELOAD swaps the table state and drops the sidecar — the
    # mark cannot leak across states and wrongly skip post-reload CDC
    full_load(spark, store, wh, "erp/customer", schema=CUST_SCHEMA)
    assert "last_merged_file" not in wh.read_meta("erp_customer")
