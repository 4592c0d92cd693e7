"""Zone-map / Bloom manifests on HASH-BUCKETED layouts, and the staged
atomic ``write_bucketed``.

Bucketed tables were the one layout without per-file manifests: a GDPR
delete or erasure keyed on a NON-bucket column fell back to the exact
key-column scan (O(table) at 100 TB). ``write_bucketed`` now takes
``stat_cols``/``bloom_cols`` — manifests build over the staged files
and commit atomically with the data, exactly like ``overwrite`` — and
every bucket-preserving mutation maintains them through
``_replace_files_unlocked``'s carry/recompute (carried files keep their
filters verbatim, staged files get fresh ones). Completes the
reference's pk-list delete discovery semantics (ref
control_migration_schema_script.sql:298-299,336-340) on every layout.

``write_bucketed`` itself also moved to stage-then-swap: the old path
dropped the catalog entry and rmtree'd the committed table BEFORE
writing into the final dir, so a crash mid-write lost the previous
state — the one remaining destroy-before-write window in the warehouse.

Pins:
- write_bucketed(stat_cols=, bloom_cols=) lands both manifests,
  describing exactly the committed bucket files;
- delete_keys on a NON-bucket column + materialize_deletes rewrites
  ONLY the bloom-hit files (inode carry for the rest) instead of the
  exact-scan discovery path;
- the manifests survive the bucket-preserving rewrite (next probe
  still prunes) and describe the exact new file set;
- erase_subjects on a non-bucket key is bloom-file-grain too;
- a crash at the commit swap leaves the previous committed state fully
  readable (bytes AND catalog);
- an EMPTY bucketed table commits durably: the spec sidecar records
  the schema, so a fresh session (no catalog entry, no parquet file to
  infer from) still reads it;
- full_load honors declared bloom_cols/stat_cols on a declared-bucketed
  target, and the maintenance advisor rebuilds a dropped/drifted
  bucketed bloom manifest like any other declared layout.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from example_dms_dataexport_spark.maintenance import (
    MaintenancePolicy,
    run_maintenance,
)
from example_dms_dataexport_spark.sources.warehouse import (
    BLOOM_FILE,
    BUCKET_SPEC_FILE,
    ZONEMAP_FILE,
    ParquetWarehouse,
)

N_BUCKETS = 8


def _rows(spark, n=4000):
    return spark.range(n).select(
        F.col("id").alias("pk"),
        (F.col("id") % 31).alias("grp"),
        F.concat(F.lit("v-"), F.col("id")).alias("name"),
    )


def _bucketed(spark, wh, table, n=4000, **manifests):
    wh.write_bucketed(
        _rows(spark, n), table, bucket_by=["pk"], n_buckets=N_BUCKETS,
        sort_by=["pk"], **manifests,
    )


def _data_inodes(wh, table):
    d = wh.path(table)
    return {
        n: os.stat(os.path.join(d, n)).st_ino
        for n in os.listdir(d)
        if n.endswith(".parquet")
    }


def _files_holding(spark, wh, table, col, values):
    """Ground truth: the basenames of the files that contain the rows."""
    d = wh.path(table)
    return {
        os.path.basename(r["__fp"])
        for r in spark.read.parquet(d)
        .select(col, F.col("_metadata.file_path").alias("__fp"))
        .where(F.col(col).isin(values))
        .distinct()
        .collect()
    }


def test_write_bucketed_builds_declared_manifests(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _bucketed(spark, wh, "b", stat_cols=["grp"], bloom_cols=["name"])
    d = wh.path("b")
    assert os.path.isfile(os.path.join(d, ZONEMAP_FILE))
    assert os.path.isfile(os.path.join(d, BLOOM_FILE))
    data = set(_data_inodes(wh, "b"))
    zm, bm = wh.zonemap("b"), wh.bloom("b")
    assert set(zm["files"]) == data and zm["stat_cols"] == ["grp"]
    assert set(bm["files"]) == data and bm["cols"] == ["name"]
    # the manifest is live: a probe splits the committed file set
    hit, miss = wh.bloom_hit_split(spark, "b", "name", ["v-8"])
    assert set(hit) | set(miss) == data and len(hit) >= 1
    assert _files_holding(spark, wh, "b", "name", ["v-8"]) <= set(hit)


def test_non_bucket_key_materialize_uses_bloom_cover(spark, tmp_path):
    """The r15 verdict's one remaining O(table) erasure path: with a
    bloom manifest over the non-bucket key, delete discovery comes from
    the manifest alone — only hit files rewrite, the rest hard-link."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _bucketed(spark, wh, "b", bloom_cols=["name"])
    before = _data_inodes(wh, "b")
    targets = ["v-8", "v-2048"]
    truth = _files_holding(spark, wh, "b", "name", targets)
    hit, _ = wh.bloom_hit_split(spark, "b", "name", targets)
    assert truth <= set(hit)
    wh.delete_keys(spark, "b", "name", targets)
    res = wh.materialize_deletes(spark, "b")
    assert res["keys_applied"] == 2
    # discovery was the manifest (possibly with false-positive widening),
    # never the whole table
    assert res["files_replaced"] == len(hit) < len(before)
    after = _data_inodes(wh, "b")
    for n, ino in before.items():
        if n in hit:
            assert n not in after, f"bloom-hit file {n} should rewrite"
        else:
            assert after[n] == ino, f"bloom-miss file {n} was relinked"
    raw = {r.name for r in spark.read.parquet(wh.path("b")).collect()}
    assert not (set(targets) & raw) and len(raw) == 3998


def test_manifests_survive_bucket_preserving_replace(spark, tmp_path):
    """After a materialization the carried files keep their filters
    verbatim and the staged files get fresh ones — the next delete
    still prunes instead of degrading to the exact scan."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _bucketed(spark, wh, "b", stat_cols=["grp"], bloom_cols=["name"])
    wh.delete_keys(spark, "b", "name", ["v-8"])
    wh.materialize_deletes(spark, "b")
    data = set(_data_inodes(wh, "b"))
    assert set(wh.bloom("b")["files"]) == data
    assert set(wh.zonemap("b")["files"]) == data
    before = _data_inodes(wh, "b")
    hit, _ = wh.bloom_hit_split(spark, "b", "name", ["v-777"])
    wh.delete_keys(spark, "b", "name", ["v-777"])
    res = wh.materialize_deletes(spark, "b")
    assert res["files_replaced"] == len(hit) < len(before)
    after = _data_inodes(wh, "b")
    for n, ino in before.items():
        if n not in hit:
            assert after[n] == ino
    assert wh.read_bucketed(spark, "b").count() == 3998


def test_erase_subjects_non_bucket_key_is_bloom_file_grain(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _bucketed(spark, wh, "b", bloom_cols=["name"])
    before = _data_inodes(wh, "b")
    subj = spark.createDataFrame([("v-8",), ("v-2048",)], "name string")
    hit, _ = wh.bloom_hit_split(spark, "b", "name", ["v-8", "v-2048"])
    res = wh.erase_subjects(spark, "b", "name", subj.select("name"))
    assert res["rows_erased"] == 2
    after = _data_inodes(wh, "b")
    untouched = set(before) - set(hit)
    for n in untouched:
        assert after[n] == before[n], f"bloom-miss file {n} was rewritten"
    assert wh.bucket_spec("b") is not None
    assert wh.read_bucketed(spark, "b").count() == 3998


def test_write_bucketed_crash_at_swap_keeps_previous_state(spark, tmp_path, monkeypatch):
    """Kill-point simulation at the commit boundary: the previous
    committed state must stay fully readable (the old path rmtree'd it
    before writing a single byte of the new one)."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _bucketed(spark, wh, "b", n=100)
    before = _data_inodes(wh, "b")

    def boom(tmp, final, table):
        raise RuntimeError("kill-point: crash at the commit swap")

    monkeypatch.setattr(wh, "_commit_swap", boom)
    with pytest.raises(RuntimeError, match="kill-point"):
        wh.write_bucketed(
            _rows(spark, 10), "b", bucket_by=["pk"], n_buckets=N_BUCKETS,
        )
    monkeypatch.undo()
    # previous state intact: same bytes, readable through both paths
    assert _data_inodes(wh, "b") == before
    assert wh.read_bucketed(spark, "b").count() == 100
    assert wh.read(spark, "b").count() == 100
    assert wh.bucket_spec("b")["n_buckets"] == N_BUCKETS


def test_empty_bucketed_table_survives_fresh_session(spark, tmp_path):
    """The bucketed writer emits no file for an empty frame; the
    committed schema (``_schema.json``) is what keeps the
    committed-empty state readable, with its types, in a fresh
    warehouse once the session catalog is gone."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    data = _rows(spark, 100)
    wh.write_bucketed(
        data.filter("pk < 0"), "e", bucket_by=["pk"], n_buckets=4,
    )
    # simulate a fresh session: no catalog entry survives a restart
    spark.sql(f"DROP TABLE IF EXISTS `{wh._catalog_name('e')}`")
    fresh = ParquetWarehouse(wh.root)
    for got in (fresh.read_bucketed(spark, "e"), fresh.read(spark, "e")):
        assert got.count() == 0
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in data.schema
        ]


def test_full_load_declared_bucket_builds_manifests(spark, tmp_path):
    from example_dms_dataexport_spark.full_load import full_load
    from example_dms_dataexport_spark.metadata import MetadataStore, TableMeta
    from tests.test_pipeline import CUST_SCHEMA, write_file

    stage = str(tmp_path / "stage")
    write_file(
        stage, "erp/customer/LOAD00000001.csv",
        [f"{i},name{i},{i}.5" for i in range(1, 41)],
    )
    store = MetadataStore(str(tmp_path / "meta.json"))
    store.register(TableMeta(
        full_path="erp/customer",
        db_schema="erp",
        db_table="customer",
        stage=stage,
        primary_keys=["c_custkey"],
        last_incremental_file="0",
        additional_config=(
            '{"layout": {"bucket_by": ["c_custkey"], "n_buckets": 4, '
            '"bloom_cols": ["c_name"], "stat_cols": ["c_acctbal"]}}'
        ),
    ))
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    full_load(spark, store, wh, "erp/customer", schema=CUST_SCHEMA)
    t = "erp_customer"
    assert wh.bucket_spec(t)["n_buckets"] == 4
    data = set(_data_inodes(wh, t))
    assert set(wh.bloom(t)["files"]) == data
    assert set(wh.zonemap(t)["files"]) == data


def test_maintenance_rebuilds_dropped_bucketed_bloom(spark, tmp_path):
    """The declared-layout reconcile extends to bucketed tables: a
    manifest dropped by an in-place mutation rebuilds on the next pass."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _bucketed(spark, wh, "b", n=200, bloom_cols=["name"])
    os.remove(os.path.join(wh.path("b"), BLOOM_FILE))
    recs = run_maintenance(
        spark, wh, ["b"],
        policy=MaintenancePolicy(),
        layouts={"b": {
            "bucket_by": ["pk"], "n_buckets": N_BUCKETS,
            "sort_by": ["pk"], "bloom_cols": ["name"],
        }},
    )
    rec = next(r for r in recs if r["table"] == "b")
    assert rec["action"] == "write_bloom", rec
    assert set(wh.bloom("b")["files"]) == set(_data_inodes(wh, "b"))


# ---------------------------------------------------------------------
# rebucket: the declared-vs-persisted drift reconcile
# ---------------------------------------------------------------------


def test_rebucket_converges_declared_layout(spark, tmp_path):
    from example_dms_dataexport_spark.plans import (
        exchange_count,
        physical_plan,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.write_bucketed(
        _rows(spark, 1000), "b", bucket_by=["pk"], n_buckets=4,
    )
    content = {(r.pk, r.grp, r.name) for r in wh.read(spark, "b").collect()}
    res = wh.rebucket(
        spark, "b", bucket_by=["pk"], n_buckets=N_BUCKETS, sort_by=["pk"],
    )
    assert res["rows"] == 1000
    assert wh.bucket_spec("b") == {
        "bucket_by": ["pk"], "n_buckets": N_BUCKETS, "sort_by": ["pk"],
    }
    assert {
        (r.pk, r.grp, r.name) for r in wh.read(spark, "b").collect()
    } == content
    # the converged layout co-locates with a native 8-bucket table
    _bucketed(spark, wh, "b2", n=1000)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = wh.read_bucketed(spark, "b").join(
            wh.read_bucketed(spark, "b2").select("pk"), "pk"
        )
        assert exchange_count(j) == 0, physical_plan(j)
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_rebucket_applies_pending_deletes_and_keeps_manifests(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _bucketed(spark, wh, "b", n=1000, bloom_cols=["name"])
    wh.delete_keys(spark, "b", "pk", [3, 7])
    wh.rebucket(spark, "b", bucket_by=["pk"], n_buckets=4)
    assert wh.pending_deletes("b") is None
    raw = {r.pk for r in spark.read.parquet(wh.path("b")).collect()}
    assert raw == set(range(1000)) - {3, 7}
    # the bloom manifest rebuilt over the new layout (persisted cols)
    bm = wh.bloom("b")
    assert bm["cols"] == ["name"]
    assert set(bm["files"]) == set(_data_inodes(wh, "b"))


def test_rebucket_carries_meta(spark, tmp_path):
    """The batch-identity sidecar survives the full-table rewrite, for a
    bucketed table and for a flat one gaining its layout — same
    contract as recluster."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _bucketed(spark, wh, "b", n=200)
    wh.update_meta("b", {"batch": "b7"})
    wh.rebucket(spark, "b", bucket_by=["pk"], n_buckets=4)
    assert wh.read_meta("b") == {"batch": "b7"}
    wh.overwrite(_rows(spark, 200), "f", meta={"batch": "f3"})
    wh.rebucket(spark, "f", bucket_by=["pk"], n_buckets=4)
    assert wh.bucket_spec("f")["n_buckets"] == 4
    assert wh.read_meta("f") == {"batch": "f3"}


def test_rebucket_flat_table_gains_layout(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark, 500), "b")
    assert wh.bucket_spec("b") is None
    wh.rebucket(spark, "b", bucket_by=["pk"], n_buckets=4)
    assert wh.bucket_spec("b")["n_buckets"] == 4
    assert all(
        wh._bucket_id_of(n) is not None for n in _data_inodes(wh, "b")
    )
    assert wh.read_bucketed(spark, "b").count() == 500


def test_maintenance_rebucket_is_opt_in_and_converges(spark, tmp_path):
    from example_dms_dataexport_spark.plans import (
        exchange_count,
        physical_plan,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.write_bucketed(_rows(spark, 500), "t", bucket_by=["pk"], n_buckets=4)
    lay = {"t": {
        "bucket_by": ["pk"], "n_buckets": N_BUCKETS, "sort_by": ["pk"],
    }}
    # default policy: report-only, no action
    recs = run_maintenance(spark, wh, ["t"], MaintenancePolicy(), layouts=lay)
    rec = next(r for r in recs if r["table"] == "t")
    assert rec["action"] == "none" and "bucket_drift" in rec
    assert wh.bucket_spec("t")["n_buckets"] == 4
    # opt-in: ONE cycle converges the declared layout
    recs = run_maintenance(
        spark, wh, ["t"],
        MaintenancePolicy(rebucket_drift=True), layouts=lay,
    )
    rec = next(r for r in recs if r["table"] == "t")
    assert rec["action"] == "rebucket", rec
    assert wh.bucket_spec("t") == {
        "bucket_by": ["pk"], "n_buckets": N_BUCKETS, "sort_by": ["pk"],
    }
    # converged: the co-located join plans zero exchanges
    _bucketed(spark, wh, "t2", n=500)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = wh.read_bucketed(spark, "t").join(
            wh.read_bucketed(spark, "t2").select("pk"), "pk"
        )
        assert exchange_count(j) == 0, physical_plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # next cycle: drift gone, nothing to do
    recs = run_maintenance(
        spark, wh, ["t"],
        MaintenancePolicy(rebucket_drift=True), layouts=lay,
    )
    rec = next(r for r in recs if r["table"] == "t")
    assert rec["action"] == "none" and "bucket_drift" not in rec


def test_cdc_stream_preserves_bucket_layout_across_crash(spark, tmp_path):
    """Task twin of tests/test_bucket_gdpr.py's batch evolution pin: a
    start_cdc_stream micro-batch merge into a declared-bucketed target
    must PRESERVE the layout across a checkpoint crash-replay (sink
    wrote the merge, commit marker lost, batch re-delivered) — the
    replayed whole-table merge routes through the bucket-preserving
    staged replace, so the spec sidecar, the _NNNNN file suffixes, and
    the zero-exchange co-located join all survive."""
    from example_dms_dataexport_spark.plans import (
        exchange_count,
        physical_plan,
    )
    from tests.test_streaming import (
        _drop_latest_commit,
        _run_cdc_until_done,
        _write_cdc_file,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    landing = tmp_path / "landing"
    landing.mkdir()
    target = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        ["id", "name", "val"],
    )
    wh.write_bucketed(
        target, "t", bucket_by=["id"], n_buckets=4, sort_by=["id"],
    )
    files = [
        str(landing / f"2024010{i}-000000001.csv") for i in (1, 2, 3)
    ]
    _write_cdc_file(files[0], [("U", 1, "alice2", 11.0), ("D", 2, "bob", 20.0)])
    _write_cdc_file(files[1], [("I", 4, "dave", 40.0)])
    ckpt = str(tmp_path / "ckpt")
    glob = str(landing / "2*.csv")

    _run_cdc_until_done(spark, glob, wh, ckpt)
    _drop_latest_commit(ckpt)  # crash after the merge, before the commit
    _write_cdc_file(files[2], [("U", 4, "dave2", 41.0), ("I", 5, "erin", 50.0)])
    _run_cdc_until_done(spark, glob, wh, ckpt)

    got = {r["id"]: (r["name"], r["val"]) for r in wh.read(spark, "t").collect()}
    assert got == {
        1: ("alice2", 11.0),
        3: ("carol", 30.0),
        4: ("dave2", 41.0),
        5: ("erin", 50.0),
    }
    # layout contract intact through the replayed micro-batch
    assert wh.bucket_spec("t") == {
        "bucket_by": ["id"], "n_buckets": 4, "sort_by": ["id"],
    }
    assert all(
        wh._bucket_id_of(n) is not None for n in _data_inodes(wh, "t")
    )
    other = spark.createDataFrame(
        [(i, f"x{i}") for i in range(1, 6)], ["id", "tag"]
    )
    wh.write_bucketed(other, "t2", bucket_by=["id"], n_buckets=4, sort_by=["id"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = wh.read_bucketed(spark, "t").join(
            wh.read_bucketed(spark, "t2").select("id"), "id"
        )
        assert exchange_count(j) == 0, physical_plan(j)
        assert j.count() == 4
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_empty_bucketed_plain_read_and_rebucket(spark, tmp_path):
    """wh.read() (the universal reader) and rebucket() both handle the
    committed-EMPTY bucketed state via the committed schema — no
    parquet file exists to infer from."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.write_bucketed(
        _rows(spark, 10).filter("pk < 0"), "e", bucket_by=["pk"], n_buckets=4,
    )
    got = wh.read(spark, "e")
    assert got.count() == 0 and set(got.columns) == {"pk", "grp", "name"}
    wh.rebucket(spark, "e", bucket_by=["pk"], n_buckets=8)
    assert wh.bucket_spec("e")["n_buckets"] == 8
    assert wh.read(spark, "e").count() == 0
    assert wh.read_bucketed(spark, "e").count() == 0


def test_read_bucket_keys_point_lookup_prunes(spark, tmp_path):
    """Bucket-cover point reads: Spark's own SelectedBucketsCount
    pruning is lost when DisableUnnecessaryBucketedScan (default-on)
    drops the bucketed scan for a bare filter, so the engine-owned
    cover must prune instead — the lookup plans ONLY the hit buckets'
    files, returns exactly the unpruned result, and masks pending
    merge-on-read deletes."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _bucketed(spark, wh, "b")  # 8 buckets, one file each
    keys = [3, 77, 3999]
    got = wh.read_bucket_keys(spark, "b", keys)
    cover = {
        r["b"]
        for r in spark.createDataFrame([(k,) for k in keys], "pk long")
        .select(F.pmod(F.hash("pk"), F.lit(N_BUCKETS)).alias("b"))
        .collect()
    }
    n_scanned = len(got.inputFiles())
    assert n_scanned == len(cover) < len(_data_inodes(wh, "b"))
    assert {r.pk for r in got.collect()} == set(keys)
    # pending-delete mask applies to the pruned read too
    wh.delete_keys(spark, "b", "pk", [77])
    assert {
        r.pk for r in wh.read_bucket_keys(spark, "b", keys).collect()
    } == {3, 3999}
    # misses return empty, not wrong
    assert wh.read_bucket_keys(spark, "b", [10**12]).count() == 0


def test_read_bucket_keys_composite(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = _rows(spark, 2000)
    wh.write_bucketed(df, "b", bucket_by=["grp", "pk"], n_buckets=4)
    # pk 36 has grp 36%31=5, pk 100 has grp 100%31=7 — both real tuples
    got = wh.read_bucket_keys(spark, "b", [(5, 36), (7, 100)])
    assert {(r.grp, r.pk) for r in got.collect()} == {(5, 36), (7, 100)}
    # a tuple that exists column-wise but not conjunctively matches nothing
    assert wh.read_bucket_keys(spark, "b", [(6, 36)]).count() == 0
    with pytest.raises(ValueError, match="no bucket spec"):
        wh.overwrite(df, "flat")
        wh.read_bucket_keys(spark, "flat", [(1, 2)])
