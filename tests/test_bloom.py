"""Per-file Bloom manifests: point-lookup file skipping on UNclustered
columns — the complement of the zone map (which only bites when the
write layout clusters the queried column), and the pruning lever for
GDPR erasure of RANDOM subject keys in a time-clustered table.

Pins:
- no false negatives: every present key's file is in the hit set, so
  the pruned read returns exactly the unpruned result (this is what
  makes bloom-pruned ERASURE correct, not merely fast);
- real pruning: a single probe key hits ~1 of N scattered files;
- lifecycle: leaf compaction drops the manifest, replace_files
  MAINTAINS it (carried entries verbatim, new files recomputed), and a
  stale manifest refuses loudly instead of mis-pruning;
- erase_subjects rewrites only the bloom-hit files (inode-carry proof)
  when the zone map cannot cover the subject key.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse


def _scattered(spark, n=2000, files=16):
    """High-cardinality pk scattered across files (NOT clustered on pk:
    repartition hashes on a different column)."""
    return (
        spark.range(n)
        .select(
            (F.col("id") * 7 % n).alias("pk"),
            (F.col("id") % 97).alias("bucket"),
            F.concat(F.lit("u-"), F.col("id")).alias("name"),
        )
        .repartition(files, "bucket")
    )


def _parquet_inodes(path):
    return {
        n: os.stat(os.path.join(path, n)).st_ino
        for n in os.listdir(path)
        if n.endswith(".parquet")
    }


def _mk(spark, tmp_path, n=2000, files=16):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_scattered(spark, n, files), "t")
    wh.write_bloom(spark, "t", ["pk"])
    return wh


def test_point_lookup_prunes_and_matches_unpruned(spark, tmp_path):
    wh = _mk(spark, tmp_path)
    keys = [3, 777, 1234]
    hit, miss = wh.bloom_hit_split(spark, "t", "pk", keys)
    assert miss, "bloom pruned nothing for 3 keys over 16 scattered files"
    got = {
        (r.pk, r.bucket, r.name)
        for r in wh.read_bloom_keys(spark, "t", "pk", keys).collect()
    }
    want = {
        (r.pk, r.bucket, r.name)
        for r in wh.read(spark, "t").filter(F.col("pk").isin(keys)).collect()
    }
    assert got == want and len(got) == 3


def test_no_false_negatives_for_every_present_key(spark, tmp_path):
    wh = _mk(spark, tmp_path, n=500, files=8)
    rows = wh.read(spark, "t").collect()
    import base64

    bm = wh.bloom("t")
    # map file -> pks it actually holds
    by_file = {}
    df = spark.read.parquet(wh.path("t")).select(
        "pk", F.element_at(F.split("_metadata.file_path", "/"), -1).alias("f")
    )
    for r in df.collect():
        by_file.setdefault(r.f, set()).add(r.pk)
    hashes_needed = sorted({r.pk for r in rows})
    # every key must be admitted by the filter of every file holding it
    split_cache = {}
    for key in hashes_needed[:200]:  # bounded sweep
        hit, _ = wh.bloom_hit_split(spark, "t", "pk", [key])
        split_cache[key] = set(hit)
    for rel, pks in by_file.items():
        for pk in pks:
            if pk in split_cache:
                assert rel in split_cache[pk], (
                    f"false negative: {rel} holds pk={pk} but was pruned"
                )
    assert bm and base64  # keep imports honest


def test_single_key_hits_few_files(spark, tmp_path):
    wh = _mk(spark, tmp_path, n=4000, files=16)
    hit, miss = wh.bloom_hit_split(spark, "t", "pk", [1999])
    # the key lives in exactly one file; FP tail may add a couple more
    assert len(hit) <= 3 and len(hit) + len(miss) == 16


def test_mutations_rebuild_and_stale_refuses(spark, tmp_path):
    wh = _mk(spark, tmp_path)
    # compact maintains the manifest in its one copy-on-write commit
    # (same contract as the zone map): pruned lookups survive maintenance
    assert wh.compact(spark, "t", target_file_bytes=1 << 30) == 1
    bm = wh.bloom("t")
    assert bm is not None, "compact lost the bloom manifest"
    got = {r.pk for r in wh.read_bloom_keys(spark, "t", "pk", [7]).collect()}
    assert got == {7}
    # overwrite replaces the whole dir: the sidecar is gone with it
    wh.overwrite(_scattered(spark, 100, 4), "t")
    assert wh.bloom("t") is None
    with pytest.raises(ValueError, match="no _bloom.json"):
        wh.read_bloom_keys(spark, "t", "pk", [1])
    # a manifest made stale OUTSIDE the maintained paths refuses loudly
    wh.write_bloom(spark, "t", ["pk"])
    bad = os.path.join(wh.path("t"), "zz-alien.parquet")
    spark.range(1).select(
        F.lit(9_999_999).alias("pk"),
        F.lit(0).alias("bucket"),
        F.lit("x").alias("name"),
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "alien"))
    part = next(
        n for n in os.listdir(tmp_path / "alien") if n.endswith(".parquet")
    )
    os.link(str(tmp_path / "alien" / part), bad)
    with pytest.raises(ValueError, match="stale"):
        wh.bloom_hit_split(spark, "t", "pk", [1])


def test_replace_files_maintains_the_manifest(spark, tmp_path):
    wh = _mk(spark, tmp_path)
    bm_before = wh.bloom("t")
    files = sorted(bm_before["files"])
    target = files[:2]
    base = wh.path("t")
    sub = spark.read.option("basePath", base).parquet(
        *[os.path.join(base, r) for r in target]
    )
    wh.replace_files(sub.withColumn("bucket", F.col("bucket") + 1000), "t", target)
    bm = wh.bloom("t")
    assert bm is not None, "replace_files dropped the bloom manifest"
    current = {
        n for n in os.listdir(base) if n.endswith(".parquet")
    }
    assert set(bm["files"]) == current
    # carried entries verbatim
    for rel in files[2:]:
        assert bm["files"][rel] == bm_before["files"][rel]
    # and a from-scratch rebuild agrees exactly (deterministic hashing)
    rebuilt = wh.write_bloom(spark, "t", ["pk"])
    assert rebuilt == bm
    # pruned reads still exact after the maintenance
    got = {r.pk for r in wh.read_bloom_keys(spark, "t", "pk", [5, 50]).collect()}
    assert got == {5, 50}


def test_batch_sized_commits_take_the_one_job_bloom_pass(
    spark, tmp_path, monkeypatch
):
    """A batch-sized full state and a file replace on it each build
    their Bloom entries through ONE ``_compute_bloom_small`` call (the
    stager picks the pass by staged row count), and the committed
    manifest equals ``write_bloom``'s distributed rebuild exactly."""
    calls = {"small": 0, "distributed": 0}

    def spying(name, fn):
        def spy(*a, **kw):
            calls[name] += 1
            return fn(*a, **kw)

        return staticmethod(spy)

    PW = ParquetWarehouse
    monkeypatch.setattr(
        PW, "_compute_bloom_small", spying("small", PW._compute_bloom_small)
    )
    monkeypatch.setattr(
        PW, "_compute_bloom", spying("distributed", PW._compute_bloom)
    )
    wh = PW(str(tmp_path / "wh"))
    wh.overwrite(_scattered(spark, n=200, files=4), "t", bloom_cols=["pk"])
    assert calls == {"small": 1, "distributed": 0}
    files = sorted(wh.bloom("t")["files"])
    base = wh.path("t")
    sub = spark.read.parquet(os.path.join(base, files[0]))
    wh.replace_files(
        sub.withColumn("bucket", F.col("bucket") + 1000), "t", files[:1]
    )
    assert calls == {"small": 2, "distributed": 0}
    bm = wh.bloom("t")
    assert bm == wh.write_bloom(spark, "t", ["pk"])
    assert calls == {"small": 2, "distributed": 1}


def test_erase_subjects_bloom_pruned_copy_on_write(spark, tmp_path):
    """Random subject keys in a table NOT clustered on the key: the zone
    map can't prune (bands span the keyspace), the bloom manifest can —
    only hit files rewrite, every miss file carries its inode through."""
    wh = _mk(spark, tmp_path, n=4000, files=16)
    before = _parquet_inodes(wh.path("t"))
    subjects = spark.createDataFrame([(123,), (3210,)], "k long")
    hit, miss = wh.bloom_hit_split(spark, "t", "pk", [123, 3210])
    assert miss, "fixture degenerate: bloom pruned nothing"
    res = wh.erase_subjects(spark, "t", "pk", subjects)
    assert res["rows_erased"] == 2
    after = _parquet_inodes(wh.path("t"))
    for rel in miss:
        assert after[rel] == before[rel], f"miss file {rel} was rewritten"
    for rel in hit:
        assert rel not in after
    assert wh.read(spark, "t").filter(F.col("pk").isin([123, 3210])).count() == 0
    # the maintained manifest still prunes exactly
    got = {r.pk for r in wh.read_bloom_keys(spark, "t", "pk", [200]).collect()}
    assert got == {200}


def test_second_writer_raises_during_write_bloom(spark, tmp_path):
    from example_dms_dataexport_spark.sources.warehouse import (
        ConcurrentWriteError,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_scattered(spark, 200, 4), "t")
    with wh._write_fence("t", lock_path=wh._mutation_lock_path("t")):
        with pytest.raises(ConcurrentWriteError, match="another writer"):
            wh.write_bloom(spark, "t", ["pk"])
    wh.write_bloom(spark, "t", ["pk"])
    assert wh.bloom("t") is not None


def test_delete_only_replacement_keeps_manifests_consistent(spark, tmp_path):
    """Delete-only replacement (the flat writer emits a 0-row part file
    for an empty frame — verified live) must NOT wedge the manifests: a
    row-based recompute can never describe a row-less file, so linking
    it would make bloom_hit_split refuse as 'stale' forever, including
    the NEXT erase_subjects. The 0-row file is skipped instead, also
    when the table ends up file-less (``_schema.json`` keeps its
    schema)."""
    wh = _mk(spark, tmp_path, n=200, files=4)
    # subjects = every pk of the bloom-hit files for two probe keys
    hit, miss = wh.bloom_hit_split(spark, "t", "pk", [3, 77])
    assert miss
    base = wh.path("t")
    sub = spark.read.option("basePath", base).parquet(
        *[os.path.join(base, r) for r in hit]
    )
    victims = [r.pk for r in sub.select("pk").collect()]
    subjects = spark.createDataFrame([(k,) for k in victims], "k long")
    res = wh.erase_subjects(spark, "t", "pk", subjects)
    assert res["rows_erased"] == len(victims)
    # the erased files vanished entirely (no 0-row file linked) and the
    # manifest still exactly describes the committed set — usable by
    # the NEXT erase / lookup with no stale refusal
    bm = wh.bloom("t")
    assert set(bm["files"]) == set(miss)
    assert wh.read_bloom_keys(spark, "t", "pk", victims[:5]).count() == 0

    # fully-emptied table via direct replace_files: an empty committed
    # state — no data file, an empty manifest, and the schema survives
    wh2 = _mk(spark, tmp_path / "w2", n=50, files=2)
    schema = wh2.schema("t")
    all_files = sorted(bm2_files := wh2.bloom("t")["files"])
    empty = wh2.read(spark, "t").limit(0)
    wh2.replace_files(empty, "t", all_files)
    assert _parquet_inodes(wh2.path("t")) == {}
    back = wh2.read(spark, "t")
    assert back.schema == schema and back.count() == 0
    assert wh2.bloom_hit_split(spark, "t", "pk", [1, 2, 3]) == ([], [])
    assert bm2_files  # original manifest had entries to replace


def test_manifest_schema_probe_avoids_footer_reads(spark, tmp_path):
    """The manifest carries the bloom columns' schema, so probes hash
    with the exact column type without re-reading parquet footers."""
    wh = _mk(spark, tmp_path, n=100, files=4)
    bm = wh.bloom("t")
    assert "schema" in bm
    from pyspark.sql.types import LongType, StructType

    assert StructType.fromJson(bm["schema"])["pk"].dataType == LongType()
    # int-typed probe keys still hash as LONG (type-faithful)
    got = {r.pk for r in wh.read_bloom_keys(spark, "t", "pk", [3]).collect()}
    assert got == {3}


def test_heal_bloom_hashes_gap_files_with_the_committed_schema(
    spark, tmp_path
):
    """heal_bloom's gap-file pass reads with the committed schema: a
    healed ``p=007`` file of a string partition column hashes '007',
    not the int 7 the dir name infers as on its own, so it stays in the
    hit set for '007' (an inferred type is a Bloom false negative) and
    the healed manifest equals a full rebuild."""
    import json

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, "007" if i % 2 else "abc") for i in range(20)], "id long, p string"
    )
    wh.overwrite(
        df.repartition(2, "id"), "t", partition_by=["p"], bloom_cols=["p"]
    )
    head_p = os.path.join(wh.path("t"), "_bloom.json")
    with open(head_p) as f:
        head = json.load(f)
    gap = sorted(r for r in head["files"] if r.startswith("p=007/"))[0]
    del head["files"][gap]
    with open(head_p, "w") as f:
        json.dump(head, f)
    healed = wh.heal_bloom(spark, "t", ["p"])
    hit, _miss = wh.bloom_hit_split(spark, "t", "p", ["007"])
    assert gap in hit
    rebuilt = wh.write_bloom(spark, "t", ["p"])
    assert healed == rebuilt


def _partitioned_scattered(spark, n=2000, parts=4):
    """pk scattered across files WITHIN hive partitions (partitioned on
    a coarse bucket, files split by an unrelated column)."""
    return spark.range(n).select(
        (F.col("id") * 7 % n).alias("pk"),
        (F.col("id") % parts).alias("part"),
        (F.col("id") % 97).alias("bucket"),
        F.concat(F.lit("u-"), F.col("id")).alias("name"),
    )


def _inodes_recursive(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for n in files:
            if n.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(dirpath, n), root)
                out[rel] = os.stat(os.path.join(dirpath, n)).st_ino
    return out


def test_partitioned_bloom_build_and_point_lookup(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(
        _partitioned_scattered(spark).repartition(4, "bucket"),
        "t",
        partition_by=["part"],
    )
    bm = wh.write_bloom(spark, "t", ["pk"])
    assert all("/" in rel for rel in bm["files"])  # partition-qualified
    keys = [11, 222, 1333]
    hit, miss = wh.bloom_hit_split(spark, "t", "pk", keys)
    assert miss, "partitioned bloom pruned nothing"
    got = {
        (r.pk, r.part) for r in
        wh.read_bloom_keys(spark, "t", "pk", keys).select("pk", "part").collect()
    }
    want = {
        (r.pk, r.part) for r in
        wh.read(spark, "t").filter(F.col("pk").isin(keys)).select("pk", "part").collect()
    }
    assert got == want and len(got) == 3


def test_partitioned_erase_is_file_grain(spark, tmp_path):
    """Random subject keys in a partitioned table: with a bloom
    manifest only the hit files rewrite — miss files keep their inodes
    even inside touched partitions, and the manifest stays exact."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(
        _partitioned_scattered(spark, n=4000).repartition(4, "bucket"),
        "t",
        partition_by=["part"],
    )
    wh.write_bloom(spark, "t", ["pk"])
    before = _inodes_recursive(wh.path("t"))
    subjects = spark.createDataFrame([(11,), (3001,)], "k long")
    hit, miss = wh.bloom_hit_split(spark, "t", "pk", [11, 3001])
    assert miss and hit
    res = wh.erase_subjects(spark, "t", "pk", subjects)
    assert res["rows_erased"] == 2
    after = _inodes_recursive(wh.path("t"))
    for rel in miss:
        assert after[rel] == before[rel], f"miss file {rel} was rewritten"
    for rel in hit:
        assert rel not in after
    # manifest maintained exactly: next erase/lookup still prunes
    bm = wh.bloom("t")
    assert set(bm["files"]) == set(after)
    assert (
        wh.read(spark, "t").filter(F.col("pk").isin([11, 3001])).count() == 0
    )
    got = {r.pk for r in wh.read_bloom_keys(spark, "t", "pk", [500]).collect()}
    assert got == {500}


def test_partitioned_erase_without_bloom_is_file_grain(spark, tmp_path):
    """No bloom manifest: the erase's semi-join scan finds the exact
    files holding a subject row and only those rewrite — every other
    file keeps its inode, including files inside touched partitions,
    an emptied partition's dir is gone, and a zone map on the table is
    maintained over exactly the committed files."""
    import pyarrow.parquet as pq

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = _partitioned_scattered(spark, 400)
    wh.overwrite(
        df.repartition(4, "bucket"), "t", partition_by=["part"],
        stat_cols=["pk"],
    )
    # pk 7 (part 1), pk 14 (part 2), and every row of part 3
    subjects = {7, 14} | {
        r.pk for r in df.filter(F.col("part") == 3).select("pk").collect()
    }
    base = wh.path("t")
    before = _inodes_recursive(base)

    def pks(rel):
        tbl = pq.read_table(os.path.join(base, rel), columns=["pk"])
        return set(tbl.column("pk").to_pylist())

    holding = {rel for rel in before if pks(rel) & subjects}
    res = wh.erase_subjects(
        spark, "t", "pk",
        spark.createDataFrame([(k,) for k in sorted(subjects)], "k long"),
    )
    assert res["rows_erased"] == len(subjects) == 102
    assert res["touched_partitions"] == 3
    after = _inodes_recursive(base)
    carried = {rel for rel in before if rel not in holding}
    for rel in carried:
        assert after.get(rel) == before[rel], f"file {rel} was rewritten"
    assert any(
        rel.startswith(("part=1/", "part=2/")) for rel in carried
    ), "no file inside a touched partition was carried"
    assert not any(rel in after for rel in holding)
    assert not os.path.isdir(os.path.join(base, "part=3"))
    assert set(wh.zonemap("t")["files"]) == set(after)
    assert wh.read(spark, "t").filter(F.col("pk").isin(subjects)).count() == 0
    assert wh.read(spark, "t").count() == 400 - 102


# ---------------------------------------------------------------- #
# tuple-hash specs: composite-key delete discovery                  #
# ---------------------------------------------------------------- #


def _composite(spark, n=2000, files=16):
    """2-column pk (region, seq) — the reference's comma-separated
    composite-pk shape (ref :27,:298-299) — scattered so per-file
    pruning is the only lever."""
    return (
        spark.range(n)
        .select(
            (F.col("id") % 20).alias("region"),
            F.col("id").alias("seq"),
            F.concat(F.lit("d-"), F.col("id")).alias("payload"),
        )
        .repartition(files, "payload")
    )


def test_tuple_spec_no_false_negatives_and_prunes(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_composite(spark), "t")
    bm = wh.write_bloom(spark, "t", ["region,seq"])
    assert bm["cols"] == ["region,seq"]
    keys = [(3, 3), (7, 1007), (19, 1999)]
    hit, miss = wh.bloom_hit_split(spark, "t", "region,seq", keys)
    assert miss, "tuple filter never prunes"
    # no false negatives: no missed file may hold any probe tuple
    base = wh.path("t")
    if miss:
        got = {
            (r.region, r.seq)
            for r in spark.read.parquet(
                *[os.path.join(base, rel) for rel in miss]
            ).collect()
        }
        assert got.isdisjoint(set(keys)), "tuple filter false negative"
    # the pruned point lookup equals the unpruned scan
    rows = {
        (r.region, r.seq)
        for r in wh.read_bloom_keys(spark, "t", "region,seq", keys).collect()
    }
    want = {
        (r.region, r.seq)
        for r in spark.read.parquet(base).collect()
        if (r.region, r.seq) in set(keys)
    }
    assert rows == want and rows  # the keys exist in the fixture


def test_tuple_spec_materialize_parity_with_exact_scan(spark, tmp_path):
    """Bloom-discovered vs exact-scan composite materialize: identical
    survivors; the bloom path's rewrite set covers the exact one (false
    positives only widen) and stays far below the file count."""
    dset = [(3, 3), (3, 23), (7, 7), (11, 1011)]
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    for t in ("bloomed", "scanned"):
        wh.overwrite(_composite(spark), t)
    wh.write_bloom(spark, "bloomed", ["region,seq"])
    res_b = {}
    res_s = {}
    for t, res in (("bloomed", res_b), ("scanned", res_s)):
        wh.delete_keys(spark, t, ["region", "seq"], dset)
        res.update(wh.materialize_deletes(spark, t))
    assert res_b["keys_applied"] == res_s["keys_applied"] == 4
    assert res_s["files_replaced"] <= res_b["files_replaced"] < 16
    got_b = {(r.region, r.seq) for r in spark.read.parquet(wh.path("bloomed")).collect()}
    got_s = {(r.region, r.seq) for r in spark.read.parquet(wh.path("scanned")).collect()}
    assert got_b == got_s
    assert got_b.isdisjoint(set(dset))
    # conjunctive semantics: shared region / shared seq values survive
    assert (3, 43) in got_b and (7, 27) in got_b


def test_tuple_spec_survives_replace_files_maintenance(spark, tmp_path):
    """materialize goes through replace_files, which must maintain the
    tuple entry (carried files verbatim, new files recomputed with the
    same spec) — the next composite probe is not stale."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_composite(spark), "t")
    wh.write_bloom(spark, "t", ["region,seq"])
    wh.delete_keys(spark, "t", ["region", "seq"], [(3, 3)])
    wh.materialize_deletes(spark, "t")
    bm = wh.bloom("t")
    assert bm is not None and bm["cols"] == ["region,seq"]
    # not stale, still correct, still pruning
    hit, miss = wh.bloom_hit_split(spark, "t", "region,seq", [(3, 23)])
    assert miss
    rows = {
        (r.region, r.seq)
        for r in wh.read_bloom_keys(
            spark, "t", "region,seq", [(3, 23)]
        ).collect()
    }
    assert rows == {(3, 23)}


def test_mixed_single_and_tuple_specs(spark, tmp_path):
    """One manifest can hold a single-column filter (GDPR subject
    erasure) AND a tuple filter (composite pk deletes) side by side."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_composite(spark), "t")
    bm = wh.write_bloom(spark, "t", ["seq", "region,seq"])
    assert bm["cols"] == ["seq", "region,seq"]
    hit1, miss1 = wh.bloom_hit_split(spark, "t", "seq", [42])
    assert miss1
    hit2, miss2 = wh.bloom_hit_split(spark, "t", "region,seq", [(2, 42)])
    assert miss2
    # the tuple probe is at least as selective as its member column
    assert set(hit2) <= set(hit1)


def test_versioned_snapshots_carry_their_own_bloom(spark, tmp_path):
    """overwrite_versioned(bloom_cols=...) builds the manifest INSIDE
    the staged snapshot (write-time, like stat_cols), so every retained
    immutable snapshot file-prunes its own time-travel point reads —
    write_bloom itself still refuses versioned tables (nothing mutable
    to rebuild). Each version probes through its OWN manifest: a key
    present only in v1 misses every v2 file and vice versa."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    v1 = wh.overwrite_versioned(
        _scattered(spark, n=2000, files=16), "t", bloom_cols=["pk"]
    )
    v2 = wh.overwrite_versioned(
        _scattered(spark, n=2000, files=16).filter(F.col("pk") != 7)
        .unionByName(
            spark.createDataFrame([(99991, 0, "added")], "pk long, bucket long, name string")
        ),
        "t",
        bloom_cols=["pk"],
    )
    assert wh.bloom("t", v1) is not None and wh.bloom("t", v2) is not None
    # current-version resolution: bloom(t) == bloom(t, v2)
    assert wh.bloom("t") == wh.bloom("t", v2)
    # real pruning + no false negatives, per version
    hit1, miss1 = wh.bloom_hit_split(spark, "t", "pk", [7], version=v1)
    assert hit1 and miss1, "v1 probe should prune but still hit"
    got1 = {r.pk for r in wh.read_bloom_keys(spark, "t", "pk", [7], version=v1).collect()}
    assert got1 == {7}
    # the same key was erased from v2: pruned lookup finds nothing
    got2 = {r.pk for r in wh.read_bloom_keys(spark, "t", "pk", [7], version=v2).collect()}
    assert got2 == set()
    # and v2's new key is invisible to v1
    assert not wh.read_bloom_keys(spark, "t", "pk", [99991], version=v1).count()
    assert wh.read_bloom_keys(spark, "t", "pk", [99991], version=v2).count() == 1
    # the mutable-table rebuild path still refuses loudly
    with pytest.raises(ValueError, match="overwrite_versioned"):
        wh.write_bloom(spark, "t", ["pk"])


def test_versioned_erase_keeps_manifest_contract(spark, tmp_path):
    """erase_subjects on a versioned table republishes the survivors as
    the next snapshot — which must CARRY the erased snapshot's derived-
    metadata contract (zone map + bloom manifest), or every later
    time-travel read and the next erase's file-grain cover silently
    degrade to full scans."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite_versioned(
        _scattered(spark, n=2000, files=16), "t",
        stat_cols=["bucket"], bloom_cols=["pk"],
    )
    res = wh.erase_subjects(
        spark, "t", "pk", spark.createDataFrame([(7,), (19,)], "k long")
    )
    assert res["rows_erased"] == 2 and res["purged_versions"] == [1]
    v = wh._load_versions("t")["current"]
    zm, bm = wh.zonemap("t", v), wh.bloom("t", v)
    assert zm is not None and zm["stat_cols"] == ["bucket"]
    assert bm is not None and bm["cols"] == ["pk"]
    # and the carried manifest actually prunes the erased snapshot
    hit, miss = wh.bloom_hit_split(spark, "t", "pk", [11], version=v)
    assert hit and miss
    assert {r.pk for r in wh.read_bloom_keys(spark, "t", "pk", [11], version=v).collect()} == {11}
    assert wh.read_bloom_keys(spark, "t", "pk", [7], version=v).count() == 0
