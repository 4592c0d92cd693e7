"""Merge-on-read deletion vectors (delete_keys / materialize_deletes)
and the recluster maintenance rewrite.

Pins:
- delete_keys touches ZERO data files (inode proof) while read() and
  read_zoned() mask the deleted keys — the Iceberg equality-delete
  shape, the instant-delete path at 100 TB;
- repeated deletes accumulate (set union) under one key column; NULL
  keys, a second key column, and versioned tables refuse; bucketed
  tables are accepted (mask + bucket-preserving materialization,
  tests/test_bucket_gdpr.py);
- every state-assembling mutation (CDC merge, replace_files, compact,
  erase_subjects, commit_group_linked) refuses
  while deletes are pending — their commit swap would drop the sidecar
  and resurrect the masked rows;
- materialize_deletes rewrites ONLY the files holding pending keys
  (bloom-pruned when a manifest covers the key, exact scan discovery
  otherwise; inode-carry proof either way) and drops the sidecar
  atomically with the rewrite;
- recluster restores narrow disjoint zone bands on a shuffled table
  (zone_overlap_split prunes nothing before, most files after),
  preserves content/meta/bloom tuning, and applies pending deletes.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from example_dms_dataexport_spark.cdc import merge_and_write
from example_dms_dataexport_spark.sources.warehouse import (
    DELETES_DIR,
    DELETES_FILE,
    ParquetWarehouse,
)


def _rows(spark, n=2000, files=8):
    """pk scattered across files (HASH-partitioned on pk: every file
    spans ~the full key range — the unclustered CDC-accreted shape)."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("pk"),
            (F.col("id") % 13).alias("bucket"),
            F.concat(F.lit("v-"), F.col("id")).alias("name"),
        )
        .repartition(files, "pk")
    )


def _inodes(path):
    return {
        n: os.stat(os.path.join(path, n)).st_ino
        for n in os.listdir(path)
        if n.endswith(".parquet")
    }


def test_delete_masks_reads_without_touching_files(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "t", stat_cols=["pk"])
    before = _inodes(wh.path("t"))
    got = wh.delete_keys(spark, "t", "pk", [5, 17, 1999])
    assert (got["key_col"], got["n_keys"]) == ("pk", 3)
    assert got["dir"].startswith(DELETES_DIR + "-")
    assert _inodes(wh.path("t")) == before, "delete touched a data file"
    pks = {r.pk for r in wh.read(spark, "t").collect()}
    assert pks == set(range(2000)) - {5, 17, 1999}
    zoned = {r.pk for r in wh.read_zoned(spark, "t", "pk", 0, 30).collect()}
    assert zoned == set(range(31)) - {5, 17}


def test_deletes_accumulate_and_accept_dataframe(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "t")
    wh.delete_keys(spark, "t", "pk", [1, 2, 3])
    kdf = spark.range(3, 6).select(F.col("id").alias("pk"))
    got = wh.delete_keys(spark, "t", "pk", kdf)
    assert got["n_keys"] == 5  # {1,2,3} ∪ {3,4,5}
    pks = {r.pk for r in wh.read(spark, "t").collect()}
    assert pks == set(range(2000)) - {1, 2, 3, 4, 5}


def test_delete_refusals(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "t")
    with pytest.raises(ValueError, match="NULL delete key"):
        wh.delete_keys(spark, "t", "pk", [7, None])
    wh.delete_keys(spark, "t", "pk", [7])
    with pytest.raises(ValueError, match="one key-column set at a time"):
        wh.delete_keys(spark, "t", "name", ["v-9"])
    wh.overwrite_versioned(_rows(spark), "v")
    with pytest.raises(ValueError, match="versioned"):
        wh.delete_keys(spark, "v", "pk", [1])
    # bucketed layouts are ACCEPTED since r15: the sidecar is a
    # read-side mask and materialize_deletes rewrites bucket files
    # through the bucket-preserving writer (tests/test_bucket_gdpr.py)
    wh.write_bucketed(_rows(spark), "b", bucket_by=["pk"], n_buckets=4)
    wh.delete_keys(spark, "b", "pk", [1])
    assert 1 not in {r.pk for r in wh.read(spark, "b").collect()}
    assert 1 not in {r.pk for r in wh.read_bucketed(spark, "b").collect()}


def test_mutations_refuse_while_pending(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "t")
    wh.delete_keys(spark, "t", "pk", [10])
    target = wh.read(spark, "t")
    changes = spark.createDataFrame(
        [(10, 0, "back", "f1", 1)],
        "pk long, bucket long, name string, _file string, _rownum long",
    ).select("pk", "bucket", "name", "_file", "_rownum")
    changes = changes.withColumn("op", F.lit("I")).select(
        "op", "pk", "bucket", "name", "_file", "_rownum"
    )
    # a CDC merge whose pks EQUAL the pending key columns FOLDS the
    # pending set instead of refusing (tests/test_cdc_delete_fold.py);
    # since r13 DIFFERENT key columns fold too (sidecar carried intact,
    # batch masked) — the refusal remains only when the change batch
    # LACKS the pending key column, so it cannot be masked
    with pytest.raises(ValueError, match="lacks column"):
        merge_and_write(
            wh, "t", target.drop("pk"), changes.drop("pk"), pks=["bucket"],
            version_cols=["_file", "_rownum"],
        )
    with pytest.raises(ValueError, match="pending merge-on-read deletes"):
        wh.compact(spark, "t", target_file_bytes=1)
    some_file = sorted(_inodes(wh.path("t")))[0]
    with pytest.raises(ValueError, match="pending merge-on-read deletes"):
        wh.replace_files(target.limit(0), "t", [some_file])
    subj = spark.createDataFrame([(10,)], "k long")
    with pytest.raises(ValueError, match="pending merge-on-read deletes"):
        wh.erase_subjects(spark, "t", "pk", subj)
    # group snapshots CARRY the sidecar instead of refusing (r12): the
    # snapshot resolves the masked view, and stays masked even after
    # the live table materializes
    wh.commit_group_linked(["t"], "g1")
    snap = wh.read_group(spark, "g1")["t"]
    assert 10 not in {r.pk for r in snap.collect()}
    wh.materialize_deletes(spark, "t")
    snap = wh.read_group(spark, "g1")["t"]
    assert 10 not in {r.pk for r in snap.collect()}


def test_materialize_scan_discovery_carries_disjoint(spark, tmp_path):
    """No bloom manifest: the exact key-column scan finds the hit files;
    only those rewrite (clustered table + narrow key band)."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(
        _rows(spark), "t", cluster_by=["pk"], cluster_partitions=8,
        stat_cols=["pk"],
    )
    wh.delete_keys(spark, "t", "pk", list(range(100, 120)))
    before = _inodes(wh.path("t"))
    res = wh.materialize_deletes(spark, "t")
    assert res["keys_applied"] == 20
    assert res["files_replaced"] >= 1
    after = _inodes(wh.path("t"))
    carried = [n for n in before if after.get(n) == before[n]]
    assert carried, "materialize rewrote everything: discovery is broken"
    assert not os.path.isfile(os.path.join(wh.path("t"), DELETES_FILE))
    # the rewrite's whole-dir swap drops every versioned sidecar dir
    assert not [
        n for n in os.listdir(wh.path("t")) if n.startswith(DELETES_DIR)
    ]
    pks = {r.pk for r in wh.read(spark, "t").collect()}
    assert pks == set(range(2000)) - set(range(100, 120))
    # the zone map survived the rewrite (maintained, not dropped)
    assert wh.zonemap("t") is not None


def test_materialize_bloom_pruned(spark, tmp_path):
    """With a bloom manifest covering the key, discovery reads NO data:
    the hit set comes from the manifest (scattered layout, point keys)."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "t")
    wh.write_bloom(spark, "t", ["pk"])
    hit, miss = wh.bloom_hit_split(spark, "t", "pk", [42])
    assert miss, "fixture layout puts key 42 in every file?"
    before = _inodes(wh.path("t"))
    wh.delete_keys(spark, "t", "pk", [42])
    res = wh.materialize_deletes(spark, "t")
    assert res["files_replaced"] == len(hit)
    after = _inodes(wh.path("t"))
    for n in miss:
        assert after[n] == before[n], f"bloom-miss file {n} was rewritten"
    assert 42 not in {r.pk for r in wh.read(spark, "t").collect()}
    # manifest maintained through the rewrite: next probe still works
    assert wh.bloom_hit_split(spark, "t", "pk", [43]) is not None


def test_materialize_absent_keys_drops_sidecar_only(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "t")
    wh.write_bloom(spark, "t", ["pk"])
    before = _inodes(wh.path("t"))
    wh.delete_keys(spark, "t", "pk", [999_999])
    res = wh.materialize_deletes(spark, "t")
    assert res == {"keys_applied": 1, "files_replaced": 0}
    assert _inodes(wh.path("t")) == before
    assert wh.pending_deletes("t") is None
    # idempotent no-op when nothing is pending
    assert wh.materialize_deletes(spark, "t")["keys_applied"] == 0


def test_recluster_restores_zone_pruning(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    # shuffled layout: every file spans ~the full pk range
    wh.overwrite(_rows(spark, files=8), "t", meta={"batch": "b7"})
    wh.write_zonemap(spark, "t", ["pk"])
    wh.write_bloom(spark, "t", ["pk"])
    narrow = {"pk": (100, 120)}
    split = wh.zone_overlap_split("t", narrow)
    assert split is not None and len(split[1]) == 0, (
        "fixture is supposed to be unclustered (no file prunes)"
    )
    content_before = {
        (r.pk, r.bucket, r.name) for r in wh.read(spark, "t").collect()
    }
    res = wh.recluster(spark, "t", cluster_partitions=8)  # defaults to stat_cols
    assert res["files_before"] == 8 and res["rows"] == 2000
    overlap, disjoint = wh.zone_overlap_split("t", narrow)
    assert len(disjoint) >= res["files_after"] - 2, (
        f"recluster left wide bands: {len(disjoint)} of "
        f"{res['files_after']} files prune"
    )
    assert {
        (r.pk, r.bucket, r.name) for r in wh.read(spark, "t").collect()
    } == content_before
    assert wh.read_meta("t") == {"batch": "b7"}  # meta carried
    bm = wh.bloom("t")
    assert bm is not None and set(bm["files"]) == set(
        wh.zonemap("t")["files"]
    ), "bloom manifest not rebuilt over the new layout"


def test_recluster_applies_pending_deletes(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "t", stat_cols=["pk"])
    wh.delete_keys(spark, "t", "pk", [1, 2, 3])
    wh.recluster(spark, "t", cluster_by=["pk"], cluster_partitions=4)
    assert wh.pending_deletes("t") is None
    assert not [
        n for n in os.listdir(wh.path("t")) if n.startswith(DELETES_DIR)
    ]
    pks = {r.pk for r in wh.read(spark, "t").collect()}
    assert pks == set(range(2000)) - {1, 2, 3}


def test_recluster_refusals(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "p", partition_by=["bucket"])
    with pytest.raises(ValueError, match="hive-partitioned"):
        wh.recluster(spark, "p", cluster_by=["pk"])
    wh.overwrite(_rows(spark), "t")
    with pytest.raises(ValueError, match="no zone map"):
        wh.recluster(spark, "t")


def test_materialize_partitioned(spark, tmp_path):
    """Partitioned table: the sidecar masks across partitions, scan
    discovery returns partition-qualified rel paths, and partitions
    holding no pending key carry every file by inode."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "p", partition_by=["bucket"])
    dead = {5, 100, 1500}  # buckets 5, 9, 5
    wh.delete_keys(spark, "p", "pk", sorted(dead))
    assert dead.isdisjoint({r.pk for r in wh.read(spark, "p").collect()})

    def walk_inodes():
        out = {}
        base = wh.path("p")
        for dirpath, dirs, files in os.walk(base):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for n in files:
                if n.endswith(".parquet"):
                    p = os.path.join(dirpath, n)
                    out[os.path.relpath(p, base)] = os.stat(p).st_ino
        return out

    before = walk_inodes()
    res = wh.materialize_deletes(spark, "p")
    assert res["keys_applied"] == 3 and res["files_replaced"] >= 1
    assert wh.pending_deletes("p") is None
    after = walk_inodes()
    touched_buckets = {str(k % 13) for k in dead}
    for rel, ino in before.items():
        b = rel.split("/")[0].split("=")[1]
        if b not in touched_buckets:
            assert after.get(rel) == ino, f"untouched {rel} was rewritten"
    pks = {r.pk for r in wh.read(spark, "p").collect()}
    assert pks == set(range(2000)) - dead


def test_materialize_partitioned_keeps_partition_values(spark, tmp_path):
    """The hit files are read with the table's read schema: a string
    partition value that would infer as an int over the hit subset
    alone ('007' -> 7) keeps its text, its dir and its type."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(
        spark.createDataFrame(
            [(1, "007"), (3, "007"), (2, "abc")], "id long, p string"
        ).coalesce(1),  # ids 1 and 3 share the one p=007 file
        "t", partition_by=["p"],
    )
    wh.delete_keys(spark, "t", "id", [1])
    wh.materialize_deletes(spark, "t")
    assert sorted(
        n for n in os.listdir(wh.path("t")) if not n.startswith(("_", "."))
    ) == ["p=007", "p=abc"]
    got = wh.read(spark, "t")
    assert got.schema.simpleString() == "struct<id:bigint,p:string>"
    assert sorted(got.collect()) == [(2, "abc"), (3, "007")]


def test_read_bloom_keys_masks_pending(spark, tmp_path):
    """The third read surface: a bloom-pruned point lookup must return
    exactly what the unpruned read would — including pending deletes."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "t")
    wh.write_bloom(spark, "t", ["pk"])
    wh.delete_keys(spark, "t", "pk", [42])
    got = wh.read_bloom_keys(spark, "t", "pk", [42, 43]).collect()
    assert {r.pk for r in got} == {43}


def test_delete_dataframe_keys_cast_to_column_type(spark, tmp_path):
    """A STRING-typed keys frame against a LONG column must not poison
    the sidecar with a cross-type set (string-vs-long coerces through
    DOUBLE at read time and mis-matches keys above 2^53)."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "t")
    kdf = spark.createDataFrame([("7",), ("8",)], "k string")
    wh.delete_keys(spark, "t", "pk", kdf)
    # a later list-typed delete unions cleanly (same LONG type)
    wh.delete_keys(spark, "t", "pk", [9])
    pks = {r.pk for r in wh.read(spark, "t").collect()}
    assert pks == set(range(2000)) - {7, 8, 9}
    with pytest.raises(ValueError, match="NULL delete key"):
        wh.delete_keys(
            spark, "t", "pk",
            spark.createDataFrame([("not-a-number",)], "k string"),
        )


def test_superseded_sidecars_swept_by_vacuum_not_delete(spark, tmp_path):
    """Each delete_keys writes a NEW versioned dir and leaves the prior
    one as a grace window for in-flight readers; vacuum sweeps only the
    de-referenced dirs and always keeps the manifest's current one."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "t")
    wh.delete_keys(spark, "t", "pk", [1])
    wh.delete_keys(spark, "t", "pk", [2])
    side = [
        n for n in os.listdir(wh.path("t")) if n.startswith(DELETES_DIR + "-")
    ]
    assert len(side) == 2, "superseded sidecar must linger for readers"
    removed = wh.vacuum(ttl_seconds=-5)
    cur = wh.pending_deletes("t")["dir"]
    assert removed == [os.path.join("t", (set(side) - {cur}).pop())]
    assert os.path.isdir(os.path.join(wh.path("t"), cur))
    pks = {r.pk for r in wh.read(spark, "t").collect()}
    assert pks == set(range(2000)) - {1, 2}


def test_lossy_dataframe_keys_refused(spark, tmp_path):
    """try_cast silently truncates double 7.9 -> bigint 7: the lossless
    round-trip guard must refuse, never delete a key nobody named."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "t")
    lossy = spark.createDataFrame([(7.9,)], "k double")
    with pytest.raises(ValueError, match="not exactly representable"):
        wh.delete_keys(spark, "t", "pk", lossy)
    # exact-valued doubles round-trip and are accepted
    wh.delete_keys(spark, "t", "pk", spark.createDataFrame([(7.0,)], "k double"))
    assert 7 not in {r.pk for r in wh.read(spark, "t").collect()}


@pytest.mark.slow
def test_legacy_fixed_sidecar_is_migrated_and_vacuumable(spark, tmp_path):
    """A pre-versioned manifest (no 'dir' key) + fixed '_deletes' dir:
    reads work, the next delete_keys unions and migrates it, and vacuum
    sweeps the de-referenced legacy dir instead of leaking it forever."""
    import json

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark), "t")
    # build the legacy on-disk shape by rewriting a modern delete
    wh.delete_keys(spark, "t", "pk", [3])
    dm = wh.pending_deletes("t")
    base = wh.path("t")
    os.rename(os.path.join(base, dm["dir"]), os.path.join(base, DELETES_DIR))
    with open(os.path.join(base, DELETES_FILE), "w") as f:
        json.dump({"key_col": "pk", "n_keys": 1}, f)  # legacy: no 'dir'
    assert 3 not in {r.pk for r in wh.read(spark, "t").collect()}
    wh.delete_keys(spark, "t", "pk", [4])  # unions + migrates
    assert wh.pending_deletes("t")["n_keys"] == 2
    removed = wh.vacuum(ttl_seconds=-5)
    assert os.path.join("t", DELETES_DIR) in removed, (
        f"legacy _deletes leaked: {removed}"
    )
    pks = {r.pk for r in wh.read(spark, "t").collect()}
    assert pks == set(range(2000)) - {3, 4}


