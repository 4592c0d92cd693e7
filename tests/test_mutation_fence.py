"""Writer fences for the swap-based table mutations.

Round-10 verdict: ``replace_files``/``erase_subjects``/``compact``
were read-modify-writes outside any
fence — two concurrent zone-scoped merges would both list the ORIGINAL
file set and the second commit would silently discard the first's rows
(the lost-update shape ``commit_group`` was fenced against in round 9,
one level down). These tests pin:

- a second writer raises ``ConcurrentWriteError`` while the first holds
  the fence (never a silent lost update);
- writer B, serialized after A, cannot resurrect pre-A state: its
  ``replaced`` listing taken before A's commit no longer names current
  files, so it fails LOUDLY;
- a versioned erase shares ``overwrite_versioned``'s in-dir lock (a
  snapshot committed mid-erase would be purged unseen with retain=1);
- the mutation lock lives OUTSIDE the table dir, because the commit
  swap renames the directory away (an in-dir lock would be displaced
  mid-fence and the owner's cleanup could delete a successor's lock).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from example_dms_dataexport_spark.sources.warehouse import (
    ConcurrentWriteError,
    ParquetWarehouse,
)


def _df(spark, n=100):
    return spark.range(n).select(
        (F.col("id") * 2).alias("pk"),
        (F.col("id") % 10).alias("val"),
    )


def _mk_flat(spark, wh, table, n=100):
    wh.overwrite(
        _df(spark, n), table, cluster_by=["pk"], cluster_partitions=4,
        stat_cols=["pk"],
    )


def test_mutation_lock_is_outside_the_table_dir(tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    lock = wh._mutation_lock_path("t")
    assert not lock.startswith(wh.path("t") + os.sep)
    assert os.path.dirname(lock) == wh.root


def test_replace_files_second_writer_raises(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _mk_flat(spark, wh, "t")
    files = sorted(
        f for f in os.listdir(wh.path("t")) if f.endswith(".parquet")
    )
    with wh._write_fence("t", lock_path=wh._mutation_lock_path("t")):
        with pytest.raises(ConcurrentWriteError, match="another writer"):
            wh.replace_files(_df(spark, 5), "t", files[:1])
    # fence released: the same call now commits, and the lock is gone
    wh.replace_files(_df(spark, 5).filter("pk < 10"), "t", files[:1])
    assert not os.path.exists(wh._mutation_lock_path("t"))


def test_replace_files_stale_listing_fails_loudly(spark, tmp_path):
    """Writer B listed the file set before A's commit. Serialized after
    A, B's replaced names are no longer current files — it must raise,
    never splice pre-A inodes back in."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _mk_flat(spark, wh, "t")
    base = wh.path("t")
    stale_listing = sorted(
        f for f in os.listdir(base) if f.endswith(".parquet")
    )
    # writer A rewrites the whole file set (every name changes)
    sub = spark.read.parquet(base)
    wh.replace_files(
        sub.withColumn("val", F.col("val") + 1), "t", stale_listing
    )
    rows_after_a = {(r.pk, r.val) for r in wh.read(spark, "t").collect()}
    # writer B replays against its pre-A listing
    with pytest.raises(ValueError, match="not current files"):
        wh.replace_files(_df(spark, 5), "t", stale_listing)
    assert {
        (r.pk, r.val) for r in wh.read(spark, "t").collect()
    } == rows_after_a


def test_erase_subjects_partitioned_second_writer_raises(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_df(spark, 40), "p", partition_by=["val"])
    subjects = spark.createDataFrame([(2,), (22,)], "k long")
    with wh._write_fence("p", lock_path=wh._mutation_lock_path("p")):
        with pytest.raises(ConcurrentWriteError, match="another writer"):
            wh.erase_subjects(spark, "p", "pk", subjects)
    res = wh.erase_subjects(spark, "p", "pk", subjects)
    assert res["rows_erased"] == 2
    assert wh.read(spark, "p").count() == 38
    assert not os.path.exists(wh._mutation_lock_path("p"))


def test_compact_second_writer_raises(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_df(spark, 100).repartition(8), "c")
    with wh._write_fence("c", lock_path=wh._mutation_lock_path("c")):
        with pytest.raises(ConcurrentWriteError, match="another writer"):
            wh.compact(spark, "c", target_file_bytes=1 << 30)
    assert wh.compact(spark, "c", target_file_bytes=1 << 30) == 1
    assert wh.read(spark, "c").count() == 100


def test_erase_subjects_plain_second_writer_raises(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _mk_flat(spark, wh, "t")
    subjects = spark.createDataFrame([(0,), (2,)], "k long")
    with wh._write_fence("t", lock_path=wh._mutation_lock_path("t")):
        with pytest.raises(ConcurrentWriteError, match="another writer"):
            wh.erase_subjects(spark, "t", "pk", subjects)
    res = wh.erase_subjects(spark, "t", "pk", subjects)
    assert res["rows_erased"] == 2


def test_erase_subjects_versioned_shares_the_versioned_lock(spark, tmp_path):
    """The erase's read->purge->republish and overwrite_versioned must
    exclude each other: a snapshot committed between the erase's read
    and its republish would be silently purged (retain=1)."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite_versioned(_df(spark, 50), "v")
    subjects = spark.createDataFrame([(0,)], "k long")
    with wh._write_fence("v"):  # a versioned writer mid-commit
        with pytest.raises(ConcurrentWriteError, match="another writer"):
            wh.erase_subjects(spark, "v", "pk", subjects)
        with pytest.raises(ConcurrentWriteError, match="another writer"):
            wh.overwrite_versioned(_df(spark, 10), "v")
    with pytest.warns(UserWarning, match="purged pre-erasure"):
        res = wh.erase_subjects(spark, "v", "pk", subjects)
    assert res["rows_erased"] == 1
    assert wh.read_version(spark, "v").count() == 49


def test_fenced_erase_excludes_versioned_commit_mid_erase(spark, tmp_path):
    """Concrete lost-update scenario from the r10 verdict: writer W
    tries to commit version N+1 while an erase (which read version N)
    is still inside its fence. W must fail loudly; after the erase, W's
    retry lands on TOP of the erased state — no version is purged
    unseen."""
    import threading

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite_versioned(_df(spark, 50), "v", retain=5)
    subjects = spark.createDataFrame([(0,), (4,)], "k long")

    in_fence = threading.Event()
    release = threading.Event()
    orig = wh._overwrite_versioned_unlocked
    results = {}

    def slow_unlocked(df, table, **kw):
        in_fence.set()
        release.wait(timeout=30)
        return orig(df, table, **kw)

    wh._overwrite_versioned_unlocked = slow_unlocked
    try:
        t = threading.Thread(
            target=lambda: results.update(
                erase=wh.erase_subjects(spark, "v", "pk", subjects)
            )
        )
        t.start()
        assert in_fence.wait(timeout=30)
        # erase is mid-fence: a concurrent versioned commit must refuse
        with pytest.raises(ConcurrentWriteError, match="another writer"):
            wh.overwrite_versioned(_df(spark, 99), "v", retain=5)
        release.set()
        t.join(timeout=60)
    finally:
        wh._overwrite_versioned_unlocked = orig
        release.set()
    assert results["erase"]["rows_erased"] == 2
    # the writer's retry now serializes after the erase
    v = wh.overwrite_versioned(_df(spark, 99), "v", retain=5)
    assert wh.read_version(spark, "v", version=v).count() == 99


def _committed(wh, table):
    """The committed state's file inodes and sidecar bytes."""
    base = wh.path(table)
    out = {}
    for dirpath, _dirs, files in os.walk(base):
        for n in files:
            p = os.path.join(dirpath, n)
            rel = os.path.relpath(p, base)
            if n.endswith(".parquet"):
                out[rel] = os.stat(p).st_ino
            else:
                with open(p, "rb") as f:
                    out[rel] = f.read()
    return out


@pytest.mark.parametrize(
    "writer", ["overwrite", "write_zonemap", "write_shards", "write_bucketed"]
)
def test_table_writers_take_the_mutation_fence(spark, tmp_path, writer):
    """Every writer of a table takes its one mutation fence: with the
    fence held, a full-state commit or a zone-map rebuild raises instead
    of swapping under a fenced writer (a lost update) or committing a
    map of files that writer is replacing, and the committed state is
    left as it was."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _mk_flat(spark, wh, "t")
    before = _committed(wh, "t")
    call = {
        "overwrite": lambda: wh.overwrite(_df(spark, 5), "t"),
        "write_zonemap": lambda: wh.write_zonemap(spark, "t", ["pk"]),
        "write_shards": lambda: wh.write_shards(_df(spark, 5), "t"),
        "write_bucketed": lambda: wh.write_bucketed(
            _df(spark, 5), "t", ["pk"], 2
        ),
    }[writer]
    with wh._write_fence("t"):
        with pytest.raises(ConcurrentWriteError, match="another writer"):
            call()
    assert _committed(wh, "t") == before
    assert wh.read(spark, "t").count() == 100
    call()  # fence released: the writer commits
    assert not os.path.exists(wh._mutation_lock_path("t"))
