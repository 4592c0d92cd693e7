"""Zone-map-scoped CDC merge: file-level pruning + copy-on-write commit.

The 100 TB lever VERDICT r9 named: a change batch with a narrow PK range
must prune target FILES via the table's zone map before the full-outer
merge join, and the disjoint files must carry into the new table state
as hard links (no read, no write) — the plain-table analogue of the
partition-scoped path (ref :369-408, where the reference delegates the
same scoping to Snowflake's micro-partition pruning).
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
import pytest

from example_dms_dataexport_spark.cdc import merge_and_write
from example_dms_dataexport_spark.merge import apply_changes
from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse


def _target_df(spark, n=800):
    # even PKs only, so odd keys test genuine in-range inserts
    return spark.range(n).select(
        (F.col("id") * 2).alias("pk"),
        (F.col("id") * 2 * 7 % 1000).alias("val"),
        F.concat(F.lit("row-"), F.col("id") * 2).alias("name"),
    )


def _changes_df(spark, rows):
    """rows: list of (op, pk, val, name, file, rownum)."""
    return spark.createDataFrame(
        rows,
        "op string, pk long, val long, name string, "
        "_dms_filename string, _dms_rownum long",
    )


def _parquet_inodes(path):
    return {
        n: os.stat(os.path.join(path, n)).st_ino
        for n in os.listdir(path)
        if n.endswith(".parquet")
    }


VC = ["_dms_filename", "_dms_rownum"]


def _write_clustered(spark, wh, table, n=800):
    wh.overwrite(
        _target_df(spark, n),
        table,
        cluster_by=["pk"],
        cluster_partitions=8,
        stat_cols=["pk"],
    )


def test_replace_files_copy_on_write(spark, tmp_path):
    """replace_files: carried files keep their inodes (hard links, zero
    data I/O), the new state's content is exact, and the committed zone
    map describes exactly the committed files."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _write_clustered(spark, wh, "t")
    before = _parquet_inodes(wh.path("t"))
    zm_before = wh.zonemap("t")
    # replace the file holding pk=0 with doubled vals for its rows
    overlap, disjoint = wh.zone_overlap_split("t", {"pk": (0, 50)})
    assert overlap and disjoint
    base = wh.path("t")
    sub = spark.read.option("basePath", base).parquet(
        *[os.path.join(base, r) for r in overlap]
    )
    sub_pks = {r.pk for r in sub.collect()}  # before the swap drops them
    res = wh.replace_files(
        sub.withColumn("val", F.col("val") * 2), "t", overlap
    )
    after = _parquet_inodes(wh.path("t"))
    # every disjoint file carried over with its inode intact
    for rel in disjoint:
        assert after[rel] == before[rel]
    for rel in overlap:
        assert rel not in after
    assert res["files_linked"] == len(disjoint)
    assert res["files_replaced"] == len(overlap)
    # content: exactly the doubled rows for the replaced region
    got = {r.pk: r.val for r in wh.read(spark, "t").collect()}
    assert len(got) == 800
    for pk, val in got.items():
        expect = (pk * 7 % 1000) * (2 if pk in sub_pks else 1)
        assert val == expect
    # the committed map is exact: same files as the dir, carried entries
    # verbatim, and a fresh rebuild agrees on every file's stats
    zm = wh.zonemap("t")
    assert set(zm["files"]) == set(after)
    for rel in disjoint:
        assert zm["files"][rel] == zm_before["files"][rel]
    rebuilt = wh.write_zonemap(spark, "t", ["pk"])
    assert rebuilt == zm


def test_replace_files_guards(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _write_clustered(spark, wh, "t", n=100)
    df = _target_df(spark, 10)
    with pytest.raises(ValueError, match="not current files"):
        wh.replace_files(df, "t", ["nope.parquet"])
    wh.overwrite_versioned(df, "vt")
    with pytest.raises(ValueError, match="versioned"):
        wh.replace_files(df, "vt", [])
    wh.overwrite(df, "pt", partition_by=["val"])
    with pytest.raises(ValueError, match="partition subdirectories"):
        wh.replace_files(df, "pt", [])
    # replacement data missing a (stat) column fails loudly — it no
    # longer matches the committed schema — and the table stays intact
    with pytest.raises(ValueError, match="schema mismatch"):
        wh.replace_files(df.drop("pk"), "t", [])
    assert wh.read(spark, "t").count() == 100


def test_zone_scoped_merge_matches_unpruned(spark, tmp_path):
    """The oracle property: the file-pruned merge == the reference
    apply_changes over the whole target, row for row — updates, a
    delete, an in-range insert, and latest-wins dedup all landing
    identically; disjoint files untouched on disk."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _write_clustered(spark, wh, "zoned")
    changes = _changes_df(
        spark,
        [
            ("U", 10, 1111, "upd-10", "f1", 1),
            ("U", 10, 2222, "upd-10b", "f1", 2),  # latest wins
            ("D", 14, 0, "gone", "f1", 3),
            ("I", 15, 4545, "new-15", "f1", 4),  # genuine in-range insert
            ("U", 40, 4040, "upd-40", "f1", 5),
        ],
    )
    target_cols = ["pk", "val", "name"]
    before = _parquet_inodes(wh.path("zoned"))
    n_zoned = merge_and_write(
        wh, "zoned", wh.read(spark, "zoned").select(target_cols),
        changes, pks=["pk"], version_cols=VC,
    )
    after = _parquet_inodes(wh.path("zoned"))
    zoned = sorted(map(tuple, wh.read(spark, "zoned").collect()))
    # expected content from the pure operator on the full target
    expected = sorted(
        map(
            tuple,
            apply_changes(
                _target_df(spark), changes, pks=["pk"], version_cols=VC
            ).collect(),
        )
    )
    assert zoned == expected
    # the batch spans pks 10..40 -> every file but the first band
    # survives untouched with its inode unchanged
    untouched = [r for r in before if r in after and after[r] == before[r]]
    assert untouched, "zone-scoped merge rewrote every file"
    # the zoned write is sub-linear: fewer rows written than the table
    assert n_zoned < len(expected)
    # steady state: the map survived the merge, so the NEXT merge prunes
    assert wh.zonemap("zoned") is not None
    assert set(wh.zonemap("zoned")["files"]) == set(after)


def test_zone_scoped_merge_narrow_batch_prunes_most_files(spark, tmp_path):
    """IO guard: a single-PK update reads only the file(s) whose band
    holds that PK — strictly fewer input files than the table has."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _write_clustered(spark, wh, "t")
    n_files = len(_parquet_inodes(wh.path("t")))
    assert n_files >= 4
    changes = _changes_df(spark, [("U", 400, 9, "x", "f", 1)])
    before = _parquet_inodes(wh.path("t"))
    merge_and_write(
        wh, "t", wh.read(spark, "t"), changes, pks=["pk"], version_cols=VC
    )
    after = _parquet_inodes(wh.path("t"))
    carried = sum(
        1 for r in before if r in after and after[r] == before[r]
    )
    assert carried == n_files - 1  # exactly one file rewritten
    assert wh.read(spark, "t").filter("pk = 400").first().val == 9
    assert wh.read(spark, "t").count() == 800


def test_zone_scoped_merge_pure_out_of_range_inserts(spark, tmp_path):
    """An insert batch beyond every file's band merges against nothing:
    every existing file carries over, one new file appends."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _write_clustered(spark, wh, "t")
    before = _parquet_inodes(wh.path("t"))
    changes = _changes_df(
        spark,
        [("I", 9000 + i, i, f"n{i}", "f", i) for i in range(5)],
    )
    n = merge_and_write(
        wh, "t", wh.read(spark, "t"), changes, pks=["pk"], version_cols=VC
    )
    assert n == 5
    after = _parquet_inodes(wh.path("t"))
    for rel, ino in before.items():
        assert after[rel] == ino
    assert wh.read(spark, "t").count() == 805


def test_merge_runs_at_most_two_jobs_before_its_commit(
    spark, tmp_path, monkeypatch
):
    """Before a zone-scoped merge commits, the change batch is evaluated
    once: its distinct keys collect in one driver-bounded step, which
    is also the empty-batch probe, and the cover runs on the driver."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _write_clustered(spark, wh, "t")
    assert len(_parquet_inodes(wh.path("t"))) == 8
    src = str(tmp_path / "batch")
    _changes_df(
        spark,
        [("U", 10, 1, "a", "f", 1), ("U", 1590, 2, "b", "f", 2),
         ("I", 1597, 3, "c", "f", 3)],
    ).write.parquet(src)
    changes = spark.read.parquet(src)  # a file scan, like a CDC stage read
    sc = spark.sparkContext
    group = f"merge-jobs-{uuid.uuid4().hex}"
    at_commit = []
    real = ParquetWarehouse.replace_files

    def spy(self, *a, **kw):
        at_commit.append(list(sc.statusTracker().getJobIdsForGroup(group)))
        return real(self, *a, **kw)

    monkeypatch.setattr(ParquetWarehouse, "replace_files", spy)
    sc.setJobGroup(group, "merge")
    try:
        merge_and_write(
            wh, "t", wh.read(spark, "t"), changes, pks=["pk"], version_cols=VC
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(at_commit) == 1, "the merge did not narrow"
    assert len(at_commit[0]) <= 2, at_commit
    assert wh.read(spark, "t").filter("pk = 1590").first().val == 2


def test_merge_above_the_key_cap_prunes_by_the_batch_range(
    spark, tmp_path, monkeypatch
):
    """Above ``DELETE_BLOOM_PROBE_CAP`` keys the batch is counted and
    bounded, not collected: the zone map prunes by the keys' one
    [min, max] range (flat and hive targets alike), and the merged
    content still matches the unpruned path."""
    from example_dms_dataexport_spark.sources import warehouse as wmod

    monkeypatch.setattr(wmod, "DELETE_BLOOM_PROBE_CAP", 2)
    rows = [("U", 10, 1, "a", "f", 1), ("D", 12, 0, "b", "f", 2),
            ("I", 15, 3, "c", "f", 3)]
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _write_clustered(spark, wh, "t")
    before = _parquet_inodes(wh.path("t"))
    merge_and_write(
        wh, "t", wh.read(spark, "t"), _changes_df(spark, rows),
        pks=["pk"], version_cols=VC,
    )
    after = _parquet_inodes(wh.path("t"))
    assert sum(after.get(r) == ino for r, ino in before.items()) == 7
    expected = sorted(map(tuple, apply_changes(
        _target_df(spark), _changes_df(spark, rows), pks=["pk"],
        version_cols=VC,
    ).collect()))
    assert sorted(map(tuple, wh.read(spark, "t").collect())) == expected
    # hive: the touched partitions are unknown above the cap, so the
    # range cover runs over every partition's files
    wh.overwrite(
        _target_df(spark).withColumn("part", F.col("pk") % 3), "h",
        partition_by=["part"], cluster_by=["pk"], cluster_partitions=4,
        stat_cols=["pk"],
    )
    ch = spark.createDataFrame(
        [(op, pk, v, n, pk % 3, f, i) for op, pk, v, n, f, i in rows],
        "op string, pk long, val long, name string, part long, "
        "_dms_filename string, _dms_rownum long",
    )
    target = wh.read(spark, "h").select("pk", "val", "name", "part")
    expected = sorted(map(tuple, apply_changes(
        target, ch, pks=["pk"], version_cols=VC).collect()))
    merge_and_write(
        wh, "h", target, ch, pks=["pk"], version_cols=VC,
        partition_by=["part"],
    )
    got = wh.read(spark, "h").select("pk", "val", "name", "part")
    assert sorted(map(tuple, got.collect())) == expected


def test_zone_scoped_merge_fallbacks(spark, tmp_path):
    """No map, or a map over no primary key -> the SCAN-scoped stage
    takes over (exact touched-file semi-join); all-NULL batch keys
    cover no file and land as an insert."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_target_df(spark, 50), "nomap")
    changes = _changes_df(spark, [("U", 14, 9, "x", "f", 1)])
    n_files = sum(
        1 for f in os.listdir(wh.path("nomap")) if f.endswith(".parquet")
    )
    n = merge_and_write(
        wh, "nomap", wh.read(spark, "nomap"), changes,
        pks=["pk"], version_cols=VC,
    )
    if n_files > 1:
        assert n < 50  # scan scope: only the touched file rewrote
    assert wh.read(spark, "nomap").filter("pk = 14").first().val == 9
    assert wh.read(spark, "nomap").count() == 50
    # map over a non-PK column only: the zone stage cannot scope by it
    wh.overwrite(_target_df(spark, 50), "wrongcol", stat_cols=["val"])
    merge_and_write(
        wh, "wrongcol", wh.read(spark, "wrongcol"), changes,
        pks=["pk"], version_cols=VC,
    )
    assert wh.read(spark, "wrongcol").filter("pk = 14").first().val == 9
    assert wh.read(spark, "wrongcol").count() == 50
    # all-NULL keys: no key tuple, so the cover keeps no file and the
    # NULL-pk U matches nothing (insert), same semantics as the
    # unpruned path
    _write_clustered(spark, wh, "nullk", n=30)
    null_changes = _changes_df(spark, [("U", None, 1, "x", "f", 1)])
    merge_and_write(
        wh, "nullk", wh.read(spark, "nullk"), null_changes,
        pks=["pk"], version_cols=VC,
    )
    assert wh.read(spark, "nullk").count() == 31
    assert wh.read(spark, "nullk").filter("pk IS NULL").count() == 1


def test_zone_scoped_merge_scattered_batch_prunes_middle(spark, tmp_path):
    """Point scoping: a batch touching BOTH ENDS of the keyspace has a
    global [min, max] spanning every band, but its key points leave the
    middle files disjoint — they must carry over untouched, and the
    merged content still matches the unpruned path."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _write_clustered(spark, wh, "t")  # pks 0..1598 in 8 ~200-wide bands
    changes = _changes_df(
        spark,
        [
            ("U", 10, 1, "lo", "f", 1),
            ("D", 12, 0, "lo2", "f", 2),
            ("U", 1590, 2, "hi", "f", 3),
            ("I", 1597, 3, "hi2", "f", 4),
        ],
    )
    before = _parquet_inodes(wh.path("t"))
    n = merge_and_write(
        wh, "t", wh.read(spark, "t"), changes, pks=["pk"], version_cols=VC
    )
    after = _parquet_inodes(wh.path("t"))
    carried = [r for r in before if r in after and after[r] == before[r]]
    # only the first and last bands were touched: >= half the files carry
    assert len(carried) >= len(before) - 2, (
        f"scattered batch carried only {len(carried)}/{len(before)} files "
        "(global-range scoping would rewrite everything)"
    )
    got = {r.pk: (r.val, r.name) for r in wh.read(spark, "t").collect()}
    expected = {
        r.pk: (r.val, r.name)
        for r in apply_changes(
            _target_df(spark), changes, pks=["pk"], version_cols=VC
        ).collect()
    }
    assert got == expected


def test_erase_subjects_zone_pruned_copy_on_write(spark, tmp_path):
    """GDPR erasure on a plain zone-mapped table is sub-linear: the
    subject set's EXACT file cover computes from the map, only hit
    files rewrite, the rest hard-link through, the map stays exact,
    and the erase is complete (zero subject rows remain)."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _write_clustered(spark, wh, "t")  # pks 0..1598, 8 bands
    before = _parquet_inodes(wh.path("t"))
    subjects = spark.createDataFrame([(10,), (12,), (1590,)], ["uid"])
    res = wh.erase_subjects(spark, "t", "pk", subjects)
    assert res["rows_erased"] == 3
    assert res["rows_after"] == 797
    after = _parquet_inodes(wh.path("t"))
    carried = [r for r in before if r in after and after[r] == before[r]]
    # subjects sat in the first and last bands only
    assert len(carried) >= len(before) - 2, (
        f"zone-pruned erase carried only {len(carried)}/{len(before)}"
    )
    got = wh.read(spark, "t")
    assert got.filter(F.col("pk").isin(10, 12, 1590)).count() == 0
    # map maintained and exact
    zm = wh.zonemap("t")
    assert zm is not None and set(zm["files"]) == set(after)
    assert wh.write_zonemap(spark, "t", ["pk"]) == zm

    # subjects hitting NO band: pure no-op, nothing rewritten
    before2 = _parquet_inodes(wh.path("t"))
    res2 = wh.erase_subjects(
        spark, "t", "pk", spark.createDataFrame([(99999,)], ["uid"])
    )
    assert res2["rows_erased"] == 0
    assert _parquet_inodes(wh.path("t")) == before2
    assert wh.zonemap("t") is not None  # no-op kept the valid map


def test_zone_scoped_merge_hive_layout_falls_back(spark, tmp_path):
    """A table hive-partitioned ON DISK but merged without partition_by
    (undeclared layout) must fall back to the whole-table path, not
    crash in replace_files."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = _target_df(spark, 100).withColumn("part", F.col("pk") % 4)
    wh.overwrite(df, "t", partition_by=["part"], stat_cols=["pk"])
    assert wh.zonemap("t") is not None
    changes = spark.createDataFrame(
        [("U", 14, 9, "x", 14 % 4, "f", 1)],
        "op string, pk long, val long, name string, part bigint, "
        "_dms_filename string, _dms_rownum long",
    )
    n = merge_and_write(
        wh, "t", wh.read(spark, "t").select("pk", "val", "name", "part"),
        changes, pks=["pk"], version_cols=VC,
    )
    assert n == 100  # whole-table fallback, correct content
    assert wh.read(spark, "t").filter("pk = 14").first().val == 9


def test_partition_by_on_flat_layout_falls_back_to_overwrite(spark, tmp_path):
    """A merge declaring partition_by over a table that is FLAT on disk
    must not file-replace under the declaration (carried flat files next
    to newly written hive dirs would duplicate the merged rows): every
    stage declines and the whole table rewrites in the declared layout."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    _write_clustered(spark, wh, "t", n=50)
    changes = _changes_df(spark, [("U", 14, 9, "x", "f", 1)])
    n = merge_and_write(
        wh, "t", wh.read(spark, "t"), changes,
        pks=["pk"], version_cols=VC, partition_by=["val"],
    )
    assert n == 50
    got = wh.read(spark, "t")
    assert got.count() == 50 and got.select("pk").distinct().count() == 50
    assert got.filter("pk = 14").first().val == 9
    assert not any(
        f.endswith(".parquet") for f in os.listdir(wh.path("t"))
    ), "flat files survived next to the hive layout"
