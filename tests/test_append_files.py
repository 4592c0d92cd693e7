"""Generic O(batch) INSERT INTO (warehouse.append_files)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def wh(tmp_path):
    return ParquetWarehouse(str(tmp_path))


def _orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def _inodes(root):
    out = {}
    for dp, _, fns in os.walk(root):
        for fn in fns:
            if fn.endswith(".parquet"):
                p = os.path.join(dp, fn)
                out[os.path.relpath(p, root)] = os.stat(p).st_ino
    return out


def test_append_is_o_batch_and_content_exact(spark, wh):
    df = _orders(spark)
    head = df.filter(F.col("o_orderkey") % 2 == 0)
    tail = df.filter(F.col("o_orderkey") % 2 == 1)
    wh.overwrite(head, "o")
    before = _inodes(wh.path("o"))
    res = wh.append_files(spark, tail, "o")
    assert res["rows"] == tail.count() and res["files_added"] >= 1
    after = _inodes(wh.path("o"))
    for rel, ino in before.items():  # no pre-append file touched
        assert after.get(rel) == ino
    got = {r["o_orderkey"] for r in wh.read(spark, "o").collect()}
    assert got == {r["o_orderkey"] for r in df.collect()}


def test_append_partitioned_lands_in_hive_dirs(spark, wh):
    df = _orders(spark).withColumn(
        "bucket", (F.col("o_orderkey") % 4).cast("int")
    )
    wh.overwrite(df.filter("o_orderkey % 2 = 0"), "p", partition_by=["bucket"])
    wh.append_files(spark, df.filter("o_orderkey % 2 = 1"), "p")
    assert wh.read(spark, "p").count() == df.count()
    root = wh.path("p")
    assert any(d.startswith("bucket=") for d in os.listdir(root))


def test_append_extends_zonemap_and_sweeps_staging(spark, wh):
    # r18 contract: appends EXTEND the per-file zone map in O(batch) —
    # metadata_stats and pruned reads survive continuous ingest
    df = _orders(spark)
    wh.overwrite(
        df, "z", cluster_by=["o_orderkey"], stat_cols=["o_orderkey"]
    )
    zm_before = wh.zonemap("z")
    assert zm_before is not None
    root = wh.path("z").rstrip("/")
    ghost = os.path.join(
        os.path.dirname(root), f".{os.path.basename(root)}.append-tmp-dead"
    )
    os.makedirs(ghost)
    extra = df.limit(5).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    wh.append_files(spark, extra, "z")
    zm = wh.zonemap("z")
    assert zm is not None
    assert len(zm["files"]) == len(zm_before["files"]) + 1
    st = wh.metadata_stats("z")
    assert st["rows"] == df.count() + 5
    assert st["cols"]["o_orderkey"]["max"] > 10_000_000
    # pruned range read over the appended band returns exactly its rows
    got = wh.read_zoned(
        spark, "z", "o_orderkey", 10_000_000, 2 * 10_000_000 + 10_000_000
    )
    assert got.count() == 5
    assert not os.path.isdir(ghost)


def test_append_extends_bloom_manifest(spark, wh):
    df = _orders(spark)
    head = df.filter(F.col("o_orderkey") % 2 == 0)
    tail = df.filter(F.col("o_orderkey") % 2 == 1)
    wh.overwrite(head, "o", bloom_cols=["o_orderkey"])
    n_files_before = len(wh.bloom("o")["files"])
    wh.append_files(spark, tail, "o")
    bm = wh.bloom("o")
    assert bm is not None and len(bm["files"]) > n_files_before
    # a key that landed via append resolves through the pruned lookup
    # (no stale-manifest refusal), opening only bloom-hit files
    key = tail.agg(F.min("o_orderkey")).first()[0]
    hit = wh.read_bloom_keys(spark, "o", "o_orderkey", [key])
    assert [r["o_orderkey"] for r in hit.collect()] == [key]
    split = wh.bloom_hit_split(spark, "o", "o_orderkey", [key])
    assert split is not None and len(split[1]) > 0  # some files pruned


def test_append_bucketed_preserves_layout(spark, wh):
    # r18 (r17 verdict task 4): bucketed tables take O(batch) appends
    # through the bucket-preserving stager — layout, bucket-cover point
    # lookups, and the zero-exchange join all survive
    from example_dms_dataexport_spark.plans import exchange_count

    df = _orders(spark)
    head = df.filter(F.col("o_orderkey") % 2 == 0)
    tail = df.filter(F.col("o_orderkey") % 2 == 1)
    wh.write_bucketed(head, "b", ["o_custkey"], 4, sort_by=["o_custkey"])
    before = _inodes(wh.path("b"))
    res = wh.append_files(spark, tail, "b")
    assert res["rows"] == tail.count() and res["files_added"] >= 1
    after = _inodes(wh.path("b"))
    for rel, ino in before.items():  # no pre-append file touched
        assert after.get(rel) == ino
    assert wh.bucket_spec("b")["n_buckets"] == 4
    # every appended file parses to a bucket id (layout not broken)
    for rel in set(after) - set(before):
        assert wh._bucket_id_of(rel) is not None, rel
    # content-exact through the catalog read
    got = {r["o_orderkey"] for r in wh.read_bucketed(spark, "b").collect()}
    assert got == {r["o_orderkey"] for r in df.collect()}
    # bucket-cover point lookup finds appended keys
    key = tail.select("o_custkey").first()[0]
    pk = wh.read_bucket_keys(spark, "b", [key])
    assert pk.count() == df.filter(F.col("o_custkey") == key).count()
    # the co-located join still plans with NO exchange on either input
    # side (one final agg exchange only); >1 file per bucket merely
    # costs an in-task sort, never a shuffle
    o = wh.read_bucketed(spark, "b")
    joined = o.hint("merge").join(
        wh.read_bucketed(spark, "b").alias("r"),
        o["o_custkey"] == F.col("r.o_custkey"),
    )
    agg = joined.groupBy(o["o_custkey"]).count()
    assert exchange_count(agg) <= 1


def test_append_refusals(spark, wh):
    df = _orders(spark)
    wh.overwrite(df, "o")
    with pytest.raises(ValueError, match="schema mismatch"):
        wh.append_files(spark, df.drop("o_totalprice"), "o")
    wh.overwrite_versioned(df, "v")
    with pytest.raises(ValueError, match="versioned"):
        wh.append_files(spark, df.limit(1), "v")


def test_append_refuses_column_type_drift(spark, wh):
    """A batch whose column types drift from the table's refuses before
    anything lands: the drifted file would be accepted, then every
    later scan of the table would fail on the parquet type mismatch."""
    wh.overwrite(
        spark.createDataFrame([(1,), (2,)], "k long"), "t", bloom_cols=["k"]
    )
    batch = spark.createDataFrame([(3,)], "k int")
    with pytest.raises(ValueError, match="type drift") as err:
        wh.append_files(spark, batch, "t")
    assert "('k', 'int', 'bigint')" in str(err.value)
    table = wh.read(spark, "t")
    assert table.schema["k"].dataType.simpleString() == "bigint"
    assert sorted(r.k for r in table.collect()) == [1, 2]


def test_append_folds_pending_deletes_by_masking_the_batch(spark, wh):
    """r19 fold (defer-mode GDPR × continuous ingest): an append while
    deletes are pending MASKS the batch against the pending key set
    instead of refusing — pending-keyed rows never land, every other
    row appends, and the sidecar stays intact so pre-existing files
    keep masking at read."""
    df = _orders(spark)
    keep = df.filter(F.col("o_orderkey") % 2 == 0)
    wh.overwrite(keep, "o")
    lo = keep.agg(F.min("o_orderkey")).first()[0]
    wh.delete_keys(spark, "o", "o_orderkey", [lo])
    # batch contains the pending key (a re-asserted subject) plus fresh
    # odd-key rows: only the fresh rows may land
    batch = df.filter(
        (F.col("o_orderkey") == lo) | (F.col("o_orderkey") % 2 == 1)
    )
    res = wh.append_files(spark, batch, "o")
    assert res["rows"] == batch.count() - 1  # the pending key was masked
    # the sidecar is untouched: the old file's row stays masked too
    assert wh.pending_deletes("o") is not None
    got = {r["o_orderkey"] for r in wh.read(spark, "o").collect()}
    assert lo not in got
    assert got == {r["o_orderkey"] for r in df.collect()} - {lo}
    # the re-asserted subject stays erased even after materialization
    # drops the sidecar — its appended row never landed in any file
    wh.materialize_deletes(spark, "o")
    got = {r["o_orderkey"] for r in wh.read(spark, "o").collect()}
    assert lo not in got


def test_append_pending_deletes_batch_entirely_masked_is_noop(spark, wh):
    """A batch that is ENTIRELY pending-keyed rows lands nothing (the
    zero-row no-op path) and leaves every file and the sidecar intact —
    the crash-window shape: nothing to resurrect."""
    df = _orders(spark)
    wh.overwrite(df, "o")
    lo = df.agg(F.min("o_orderkey")).first()[0]
    wh.delete_keys(spark, "o", "o_orderkey", [lo])
    before = _inodes(wh.path("o"))
    res = wh.append_files(spark, df.filter(F.col("o_orderkey") == lo), "o")
    assert res == {"files_added": 0, "rows": 0}
    assert _inodes(wh.path("o")) == before
    assert wh.pending_deletes("o") is not None


def test_append_under_foreign_fence_fails_fast(spark, wh):
    import os as _os

    from example_dms_dataexport_spark.sources.warehouse import (
        ConcurrentWriteError,
    )

    df = _orders(spark)
    wh.overwrite(df, "o")
    lock = wh._mutation_lock_path("o")
    with open(lock, "w") as f:
        f.write(f"pid={_os.getpid()} host={_os.uname().nodename}")
    try:
        with pytest.raises(ConcurrentWriteError):
            wh.append_files(spark, df.limit(1), "o")
    finally:
        _os.remove(lock)


def test_empty_append_is_a_true_noop(spark, wh):
    df = _orders(spark)
    wh.overwrite(df, "o", cluster_by=["o_orderkey"], stat_cols=["o_orderkey"])
    before = _inodes(wh.path("o"))
    res = wh.append_files(spark, df.limit(0), "o")
    assert res == {"files_added": 0, "rows": 0}
    assert _inodes(wh.path("o")) == before
    assert wh.zonemap("o") is not None  # no mutation -> sidecar intact


def test_small_bloom_pass_is_bit_identical_to_distributed(spark, wh):
    """The batch-sized driver-pack manifest pass (one Spark job per
    append) must produce EXACTLY the distributed pass's manifest —
    same m sizing, same NULL-key skip, same bit positions — on plain
    and composite (tuple) specs."""
    df = _orders(spark).withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 11 == 0, F.lit(None)).otherwise(
            F.col("o_custkey")
        ),
    )
    root = str(wh.path("raw"))
    df.repartition(3).write.parquet(root)
    cols = ["o_orderkey", "o_custkey", "o_orderkey,o_custkey"]
    schema = df.schema
    big = wh._compute_bloom(spark, root, cols, schema)
    small = wh._compute_bloom_small(spark, root, cols, schema)
    assert big == small


def test_heal_bloom_incremental_equals_full_rebuild(spark, wh, monkeypatch):
    """r19: heal_bloom repairs the append crash window (files landed,
    manifest commit didn't) by computing entries for ONLY the missing
    files — and the healed manifest is bit-identical to a full
    write_bloom rebuild."""
    import json

    from example_dms_dataexport_spark.sources.warehouse import (
        ParquetWarehouse as PW,
    )

    df = _orders(spark)
    wh.overwrite(df.filter("o_orderkey % 3 = 0"), "o", bloom_cols=["o_orderkey"])
    wh.append_files(spark, df.filter("o_orderkey % 3 = 1"), "o")
    wh.append_files(spark, df.filter("o_orderkey % 3 = 2"), "o")
    bp = os.path.join(wh.path("o"), "_bloom.json")
    with open(bp) as f:
        head = json.load(f)
    # appends land entries as immutable segments (r19): the crash
    # window is now "data files renamed, head not yet re-referencing
    # the batch's segment" — rewind the head to before the last append
    # and leave the segment file orphaned, exactly what a crash between
    # the segment write and the head replace leaves behind
    segs = head["segments"]
    assert len(segs) >= 2 and not head.get("files")
    with open(os.path.join(wh.path("o"), segs[-1])) as f:
        dropped = sorted(json.load(f)["files"])
    assert dropped
    head["segments"] = segs[:-1]
    with open(bp, "w") as f:
        json.dump(head, f)

    seen_paths = []
    orig_small = PW._compute_bloom_small

    def spy(spark_, dir_, cols, **kw):
        seen_paths.append(kw.get("paths"))
        return orig_small(spark_, dir_, cols, **kw)

    monkeypatch.setattr(PW, "_compute_bloom_small", staticmethod(spy))
    healed = wh.heal_bloom(spark, "o", ["o_orderkey"])
    # files-opened bound: exactly one pass over exactly the gap files
    assert len(seen_paths) == 1
    assert sorted(
        os.path.relpath(p, wh.path("o")) for p in seen_paths[0]
    ) == sorted(dropped)
    rebuilt = wh.write_bloom(spark, "o", ["o_orderkey"])
    assert healed == rebuilt
    # already-exact manifests are a true no-op (no re-commit)
    seen_paths.clear()
    again = wh.heal_bloom(spark, "o", ["o_orderkey"])
    assert again == rebuilt and seen_paths == []


def test_heal_bloom_full_rebuild_when_manifest_absent(spark, wh):
    df = _orders(spark)
    wh.overwrite(df, "o", bloom_cols=["o_orderkey"])
    os.remove(os.path.join(wh.path("o"), "_bloom.json"))
    healed = wh.heal_bloom(spark, "o", ["o_orderkey"])
    assert healed == wh.write_bloom(spark, "o", ["o_orderkey"])


def test_compute_bloom_small_paths_covers_zero_row_files(spark, wh, tmp_path):
    """r18 advisor finding: the one-job small pass must give row-less
    part files zero bitmaps like the distributed pass, or a healed
    manifest would permanently fail the exact-file-set check."""
    import shutil as _sh

    from example_dms_dataexport_spark.sources.warehouse import (
        ParquetWarehouse as PW,
    )

    d = str(tmp_path / "d")
    spark.createDataFrame(
        [(1,), (2,), (3,)], "k long"
    ).coalesce(1).write.parquet(d)
    z = str(tmp_path / "z")
    spark.createDataFrame([], "k long").coalesce(1).write.parquet(z)
    zpart = next(
        n for n in os.listdir(z) if n.endswith(".parquet")
    )
    _sh.copy(os.path.join(z, zpart), os.path.join(d, f"empty-{zpart}"))
    paths = [
        os.path.join(d, n) for n in sorted(os.listdir(d))
        if n.endswith(".parquet")
    ]
    assert len(paths) == 2
    schema = spark.read.parquet(d).schema
    small = PW._compute_bloom_small(spark, d, ["k"], schema, paths=paths)
    dist = PW._compute_bloom(spark, d, ["k"], schema, paths=paths)
    assert small == dist
    rels = set(small["files"])
    assert any(r.startswith("empty-") for r in rels) and len(rels) == 2


def test_append_manifest_io_is_o_batch_segments(spark, wh):
    """r19 scale contract: each append's bloom-manifest I/O is O(batch)
    — one immutable segment file plus a head whose size is the params
    + segment LIST, never the full entry set (which an inline rewrite
    re-dumps per sync, O(corpus files) at 100 TB)."""
    import json

    df = _orders(spark)
    wh.overwrite(df.filter("o_orderkey % 4 = 0"), "o", bloom_cols=["o_orderkey"])
    for i in (1, 2, 3):
        wh.append_files(spark, df.filter(f"o_orderkey % 4 = {i}"), "o")
    bp = os.path.join(wh.path("o"), "_bloom.json")
    with open(bp) as f:
        head = json.load(f)
    # head holds NO inline entries after the first append spills them
    assert head["files"] == {}
    segs = head["segments"]
    assert len(segs) == 4  # spilled base + one per append
    seg_sets = []
    for s in segs:
        with open(os.path.join(wh.path("o"), s)) as f:
            seg_sets.append(set(json.load(f)["files"]))
    # segments are disjoint and union to the merged view
    assert sum(len(s) for s in seg_sets) == len(set().union(*seg_sets))
    merged = wh.bloom("o")
    assert set(merged["files"]) == set().union(*seg_sets)
    # the merged manifest equals a full rebuild entry-for-entry (the
    # entries were computed by the same pass at append time)
    rebuilt = wh.write_bloom(spark, "o", ["o_orderkey"])
    assert merged["files"] == rebuilt["files"]
    # the rebuild re-inlined the head and cleared the segments
    assert not [
        n
        for n in os.listdir(wh.path("o"))
        if n.startswith("_bloom.seg-")
    ]
    with open(bp) as f:
        assert "segments" not in json.load(f)


def test_bloom_point_lookup_exact_across_segments(spark, wh):
    """Pruned lookups over a segmented manifest return exactly the
    unpruned result, for keys in the base, in appended segments, and
    absent; the parsed manifest is served from the per-signature cache
    on repeat probes and invalidated by the next append."""
    df = _orders(spark)
    wh.overwrite(df.filter("o_orderkey % 2 = 0"), "o", bloom_cols=["o_orderkey"])
    wh.append_files(spark, df.filter("o_orderkey % 2 = 1"), "o")
    keys = [r["o_orderkey"] for r in df.limit(7).collect()]
    got = sorted(
        r["o_orderkey"]
        for r in wh.read_bloom_keys(spark, "o", "o_orderkey", keys).collect()
    )
    assert got == sorted(keys)
    assert (
        wh.read_bloom_keys(spark, "o", "o_orderkey", [-12345]).count() == 0
    )
    # cache: second probe reuses the parsed manifest (same signature)
    from example_dms_dataexport_spark.sources.warehouse import BLOOM_FILE

    key = (wh.path("o"), BLOOM_FILE)
    sig1 = wh._sidecar_cache[key]["sig"]
    wh.bloom("o")
    assert wh._sidecar_cache[key]["sig"] == sig1
    wh.append_files(spark, df.limit(0).unionByName(df.limit(1)), "o")
    wh.bloom("o")
    assert wh._sidecar_cache[key]["sig"] != sig1


def test_append_zonemap_io_is_o_batch_segments(spark, wh):
    """r19: the zone map takes the same segment-list treatment as the
    bloom manifest — each append lands one immutable segment, the head
    stays O(segment-list), and pruned reads + metadata_stats see the
    merged view unchanged."""
    import json

    from example_dms_dataexport_spark.sources.warehouse import ZONEMAP_FILE

    df = _orders(spark)
    wh.overwrite(
        df.filter("o_orderkey % 3 = 0"), "z",
        cluster_by=["o_orderkey"], stat_cols=["o_orderkey"],
    )
    for i in (1, 2):
        wh.append_files(spark, df.filter(f"o_orderkey % 3 = {i}"), "z")
    with open(os.path.join(wh.path("z"), ZONEMAP_FILE)) as f:
        head = json.load(f)
    assert head["files"] == {} and len(head["segments"]) == 3
    st = wh.metadata_stats("z")
    assert st["rows"] == df.count()
    # zoned read over the full range returns every row (merged map)
    lo, hi = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    assert wh.read_zoned(spark, "z", "o_orderkey", lo, hi).count() == df.count()
    # write_zonemap re-inlines and clears segments
    zm = wh.write_zonemap(spark, "z", ["o_orderkey"])
    assert set(zm["files"]) == set(wh.zonemap("z")["files"])
    assert not [
        n
        for n in os.listdir(wh.path("z"))
        if n.startswith("_zonemap.seg-")
    ]


def test_manifest_cache_extends_incrementally_per_append(spark, wh, monkeypatch):
    """r19: a warm manifest cache absorbs an append by parsing/decoding
    ONLY the new segment's entries — per-sync manifest READ cost is
    O(batch), matching the write side (a naive cache would re-parse
    every segment on each version bump)."""
    from example_dms_dataexport_spark.sources.warehouse import (
        ParquetWarehouse as PW,
    )

    df = _orders(spark)
    wh.overwrite(df.filter("o_orderkey % 3 = 0"), "o", bloom_cols=["o_orderkey"])
    wh.append_files(spark, df.filter("o_orderkey % 3 = 1"), "o")
    key0 = df.agg(F.min("o_orderkey")).first()[0]
    wh.bloom_hit_split(spark, "o", "o_orderkey", [key0])  # warm cache
    n_before = len(wh.bloom("o")["files"])

    decoded_sizes = []
    orig = PW._decode_bitmaps

    def spy(src, rels, col):
        decoded_sizes.append(len(rels))
        return orig(src, rels, col)

    monkeypatch.setattr(PW, "_decode_bitmaps", staticmethod(spy))
    wh.append_files(spark, df.filter("o_orderkey % 3 = 2"), "o")
    n_added = len(wh.bloom("o")["files"]) - n_before
    assert n_added >= 1
    split = wh.bloom_hit_split(spark, "o", "o_orderkey", [key0])
    assert split is not None
    # the only decode after the append covers exactly the new files
    assert decoded_sizes == [n_added]
    # and the extended cache still answers lookups exactly
    got = sorted(
        r["o_orderkey"]
        for r in wh.read_bloom_keys(
            spark, "o", "o_orderkey", [key0]
        ).collect()
    )
    assert got == [key0]
