"""Warehouse-managed IVF-PQ index (operators/ann_index.py)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from example_dms_dataexport_spark.operators import ann_index as AI
from example_dms_dataexport_spark.operators import pq
from example_dms_dataexport_spark.operators.simsearch import knn_brute
from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse

SF_DIR = "/root/testdata/sf0.001"
N_LISTS = 8


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def wh(tmp_path_factory):
    return ParquetWarehouse(str(tmp_path_factory.mktemp("annwh")))


@pytest.fixture(scope="module")
def desc(wh, emb):
    return AI.build_ann_index(wh, emb, "emb_idx", n_lists=N_LISTS, m=8, k=64)


@pytest.fixture(scope="module")
def probes(emb):
    return emb.filter(F.col("vec_id") % 101 == 0)


def test_build_layout_and_descriptor(wh, emb, desc, spark):
    """Codes land hive-partitioned by coarse list; the descriptor commits
    atomically with them in the meta sidecar."""
    root = wh.path("emb_idx")
    parts = [d for d in os.listdir(root) if d.startswith("list_id=")]
    assert 2 <= len(parts) <= N_LISTS
    persisted = wh.read_meta("emb_idx")[AI.ANN_META_KEY]
    assert json.dumps(persisted, sort_keys=True) == json.dumps(
        desc, sort_keys=True
    )
    tbl = wh.read(spark, "emb_idx")
    assert set(tbl.columns) == {"vec_id", "code", "vnorm", "list_id"}
    # every non-zero corpus vector is indexed exactly once
    assert tbl.count() == emb.count()
    assert tbl.select("vec_id").distinct().count() == emb.count()
    # the encode REBALANCEs on list_id before the hive-partitioned
    # write (r19): O(1) files per list, never one per encode task per
    # list (256 tiny files for the bench fixture pre-fix)
    n_files = sum(
        1
        for _, _, fns in os.walk(root)
        for f in fns
        if f.endswith(".parquet")
    )
    assert n_files <= 2 * N_LISTS, n_files


def test_full_nprobe_equals_pq_search(wh, emb, desc, probes, spark):
    """With nprobe = n_lists the IVF tier prunes nothing, so the query
    must EQUAL pq_search over the same codes and codebook — pairs,
    ranks, and exact scores (the list partitioning only routes work)."""
    got = AI.ann_query(
        wh, spark, "emb_idx", probes, k=5, nprobe=N_LISTS
    ).collect()
    codes = wh.read(spark, "emb_idx").select("vec_id", "code", "vnorm")
    want = pq.pq_search(codes, probes, desc["book"], k=5).collect()
    key = lambda r: (r["probe_id"], r["rank"])
    got, want = sorted(got, key=key), sorted(want, key=key)
    assert [(r["probe_id"], r["vec_id"], r["rank"]) for r in got] == [
        (r["probe_id"], r["vec_id"], r["rank"]) for r in want
    ]
    for g, x in zip(got, want):
        assert g["score"] == x["score"]


def test_pruned_recall_and_monotone_nprobe(wh, emb, desc, probes, spark):
    exact = {
        (r["probe_id"], r["vec_id"])
        for r in knn_brute(emb, probes, k=10).collect()
    }

    def recall(nprobe):
        got = {
            (r["probe_id"], r["vec_id"])
            for r in AI.ann_query(
                wh, spark, "emb_idx", probes, k=10, nprobe=nprobe,
                shortlist=80, rerank_with=emb,
            ).collect()
        }
        return len(exact & got) / len(exact)

    r_all = recall(N_LISTS)
    r_half = recall(N_LISTS // 2)
    assert r_all >= 0.9  # full visit + rerank ~= brute
    assert r_half >= 0.4  # visiting half the lists keeps useful recall
    assert r_all >= r_half  # more lists never hurt


def test_partition_pruning_reaches_the_scan(wh, spark, desc, probes):
    """nprobe=1 must plan a scan whose partition filter admits only the
    visited lists — planning-time pruning, not a post-scan filter."""
    plan = (
        AI.ann_query(wh, spark, "emb_idx", probes, k=3, nprobe=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [list_id" in plan.replace("\n", " ") or (
        "list_id#" in plan and "PartitionFilters" in plan
    )


def test_rebuild_is_deterministic_and_atomic(wh, emb, desc, spark):
    d2 = AI.build_ann_index(wh, emb, "emb_idx2", n_lists=N_LISTS, m=8, k=64)
    assert json.dumps(d2, sort_keys=True) == json.dumps(desc, sort_keys=True)
    a = {
        (r["vec_id"], tuple(r["code"]), r["list_id"])
        for r in wh.read(spark, "emb_idx").collect()
    }
    b = {
        (r["vec_id"], tuple(r["code"]), r["list_id"])
        for r in wh.read(spark, "emb_idx2").collect()
    }
    assert a == b


def test_extend_appends_with_frozen_codebooks(spark, emb, tmp_path_factory):
    """Build on the even half, extend with the odd half: new rows carry
    codes from the FROZEN codebooks, untouched partitions' files keep
    their inodes, and a full-visit query equals pq_search over the
    union."""
    wh2 = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_ext")))
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    d = AI.build_ann_index(wh2, even, "idx", n_lists=N_LISTS, m=8, k=32)

    root = wh2.path("idx")

    def part_inodes():
        out = {}
        for dp, _, fns in os.walk(root):
            for fn in fns:
                if fn.endswith(".parquet"):
                    p = os.path.join(dp, fn)
                    out[os.path.relpath(p, root)] = os.stat(p).st_ino
        return out

    before = part_inodes()
    res = AI.extend_ann_index(wh2, spark, odd, "idx")
    assert res["added"] == odd.count()
    assert res["touched_lists"]
    after = part_inodes()
    untouched = {
        rel: ino
        for rel, ino in before.items()
        if not any(rel.startswith(f"list_id={t}/") for t in res["touched_lists"])
    }
    for rel, ino in untouched.items():
        assert after.get(rel) == ino, f"untouched partition rewritten: {rel}"

    tbl = wh2.read(spark, "idx")
    assert tbl.count() == emb.count()
    # new rows' codes equal a fresh frozen-codebook encode
    want = {
        r["vec_id"]: tuple(r["code"])
        for r in pq.pq_encode(odd, d["book"]).collect()
    }
    got = {
        r["vec_id"]: tuple(r["code"])
        for r in tbl.filter(F.col("vec_id") % 2 == 1).collect()
    }
    assert got == want
    # descriptor survived the partition-scoped rewrite
    assert wh2.read_meta("idx")[AI.ANN_META_KEY] == d
    # full-visit query == pq_search over the union codes
    probes = emb.filter(F.col("vec_id") % 151 == 0)
    a = AI.ann_query(wh2, spark, "idx", probes, k=5, nprobe=N_LISTS).collect()
    b = pq.pq_search(
        tbl.select("vec_id", "code", "vnorm"), probes, d["book"], k=5
    ).collect()
    key = lambda r: (r["probe_id"], r["rank"])
    assert [(r["probe_id"], r["vec_id"]) for r in sorted(a, key=key)] == [
        (r["probe_id"], r["vec_id"]) for r in sorted(b, key=key)
    ]


def test_extend_refuses_duplicate_ids(spark, emb, wh, desc):
    with pytest.raises(ValueError, match="append-only"):
        AI.extend_ann_index(wh, spark, emb.limit(5), "emb_idx")


def test_gdpr_composes_with_the_index(spark, emb, tmp_path_factory):
    """The index is a warehouse table: delete_keys masks reads at once,
    materialize rewrites only hit partitions, and the codebook meta
    survives the rewrite."""
    wh3 = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_gdpr")))
    d = AI.build_ann_index(wh3, emb, "idx", n_lists=N_LISTS, m=8, k=32)
    victim = emb.select(F.min("vec_id")).first()[0]
    wh3.delete_keys(spark, "idx", "vec_id", [victim])
    assert (
        wh3.read(spark, "idx").filter(F.col("vec_id") == victim).count() == 0
    )
    res = wh3.materialize_deletes(spark, "idx")
    assert res["keys_applied"] == 1
    tbl = wh3.read(spark, "idx")
    assert tbl.filter(F.col("vec_id") == victim).count() == 0
    assert tbl.count() == emb.count() - 1
    assert wh3.read_meta("idx")[AI.ANN_META_KEY] == d


def test_extend_refuses_intra_batch_duplicates(spark, emb, tmp_path_factory):
    wh4 = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_dup")))
    AI.build_ann_index(
        wh4, emb.filter(F.col("vec_id") % 2 == 0), "idx", n_lists=4, m=8, k=16
    )
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    with pytest.raises(ValueError, match="repeats"):
        AI.extend_ann_index(wh4, spark, odd.unionByName(odd.limit(1)), "idx")


def test_non_default_dim_index_end_to_end(spark, tmp_path_factory):
    """dim=16 index: build, pruned query, exact rerank — all dim-aware
    (the r16 review finding: the rerank kernel was fixed 64-wide)."""
    rows = [
        (i, [float((i * 11 + j * 5) % 14 - 7) for j in range(16)])
        for i in range(1, 61)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    wh5 = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_d16")))
    AI.build_ann_index(
        wh5, df, "idx", n_lists=4, m=4, k=8, dim=16, sample_cap=100
    )
    probes = df.filter(F.col("vec_id") % 15 == 0)
    out = AI.ann_query(
        wh5, spark, "idx", probes, k=3, nprobe=4, shortlist=60,
        rerank_with=df,
    ).collect()
    assert out
    got = {(r["probe_id"], r["rank"]): r["vec_id"] for r in out}
    # exact reference via numpy brute force over the same vectors
    import numpy as np

    vecs = {r[0]: np.array(r[1]) for r in rows}
    for pid in {r["probe_id"] for r in out}:
        p = vecs[pid]
        scored = sorted(
            (
                (-float(np.dot(p, v) / (np.linalg.norm(p) * np.linalg.norm(v))), vid)
                for vid, v in vecs.items()
                if vid != pid
            ),
        )
        for rank in (1, 2, 3):
            assert got[(pid, rank)] == scored[rank - 1][1]


def test_query_with_no_valid_probes_returns_empty(spark, wh, desc, emb):
    none = emb.filter(F.col("vec_id") < 0)
    out = AI.ann_query(wh, spark, "emb_idx", none, k=3, nprobe=2)
    assert out.count() == 0
    assert out.columns == ["probe_id", "vec_id", "score", "rank"]


def test_extend_with_empty_batch_is_a_noop(spark, wh, desc, emb):
    res = AI.extend_ann_index(
        wh, spark, emb.filter(F.col("vec_id") < 0), "emb_idx"
    )
    assert res == {"added": 0, "touched_lists": []}


def test_extend_runs_under_the_mutation_fence(spark, emb, tmp_path_factory):
    """The append-only dup check and the partition replace hold ONE
    mutation fence: a concurrent writer holding the table's lock makes
    extend fail fast with ConcurrentWriteError instead of passing the
    dup check against a mid-mutation index (two racing extends of the
    same vec_id would otherwise both commit)."""
    import os as _os

    from example_dms_dataexport_spark.sources.warehouse import (
        ConcurrentWriteError,
    )

    whf = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_fence")))
    AI.build_ann_index(
        whf, emb.filter(F.col("vec_id") % 2 == 0), "idx",
        n_lists=N_LISTS, m=8, k=32,
    )
    lock = whf._mutation_lock_path("idx")
    # a LIVE same-host holder (our own pid): the stale-lock breaker
    # must not bypass the fence
    with open(lock, "w") as f:
        f.write(f"pid={_os.getpid()} host={_os.uname().nodename}")
    try:
        with pytest.raises(ConcurrentWriteError):
            AI.extend_ann_index(
                whf, spark, emb.filter(F.col("vec_id") % 2 == 1), "idx"
            )
    finally:
        _os.remove(lock)
    # fence released -> the same extend commits
    res = AI.extend_ann_index(
        whf, spark, emb.filter(F.col("vec_id") % 2 == 1), "idx"
    )
    assert res["added"] == emb.filter(F.col("vec_id") % 2 == 1).count()


def test_distributed_probe_path_equals_collect_path(wh, spark, desc, probes, emb):
    """collect_probes=False (corpus-scale probes: only the visited-list
    union — bounded by n_lists — reaches the driver) returns EXACTLY the
    collect path's results, with and without rerank."""
    key = lambda r: (r["probe_id"], r["rank"])
    for kw in (
        {"k": 5, "nprobe": 2},
        {"k": 5, "nprobe": N_LISTS, "shortlist": 20, "rerank_with": emb},
    ):
        a = AI.ann_query(
            wh, spark, "emb_idx", probes, collect_probes=True, **kw
        ).collect()
        b = AI.ann_query(
            wh, spark, "emb_idx", probes, collect_probes=False, **kw
        ).collect()
        assert [(r["probe_id"], r["vec_id"], r["score"]) for r in sorted(a, key=key)] == [
            (r["probe_id"], r["vec_id"], r["score"]) for r in sorted(b, key=key)
        ]


def test_distributed_probe_partition_filter_reaches_the_scan(
    wh, spark, desc, probes
):
    """The static isin partition filter must survive the no-collect
    derivation (collect_set over exploded lists) — planning-time
    pruning, not a post-scan filter."""
    plan = (
        AI.ann_query(
            wh, spark, "emb_idx", probes, k=3, nprobe=1,
            collect_probes=False,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [list_id" in plan.replace("\n", " ") or (
        "list_id#" in plan and "PartitionFilters" in plan
    )


@pytest.mark.slow
def test_semantic_dedup_via_index_matches_the_lsh_path(
    spark, emb, tmp_path_factory
):
    """Corpus-scale composition: q82's SemDeDup survivors with the pair
    stage routed THROUGH the index (whole corpus as distributed probes,
    exhaustive nprobe, exact rerank) equals the LSH-blocked q82 path's
    survivors on the planted-duplicate fixture — the index serves the
    pipeline, not just point queries."""
    from example_dms_dataexport_spark.operators import dedup, simsearch
    from example_dms_dataexport_spark.queries_llm import (
        _planted_embedding_corpus,
    )

    corpus = _planted_embedding_corpus(emb)
    whx = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_sem")))
    AI.build_ann_index(whx, corpus, "idx", n_lists=N_LISTS, m=8, k=32)

    got = {
        r["vec_id"]
        for r in AI.semantic_dedup_via_index(
            whx, spark, "idx", corpus, threshold=0.95, k=20
        ).collect()
    }
    # reference: q82's LSH-blocked pair relation. With exhaustive
    # nprobe + exact rerank the index path finds every pair the exact
    # threshold admits (k fan-out permitting), so equality here also
    # certifies the fixture's planted duplicates never straddle an LSH
    # bucket (if they did, the index path would keep MORE pairs and
    # this assert would catch the divergence loudly).
    pairs = simsearch.embedding_dup_pairs(corpus, threshold=0.95)
    want = {
        r["vec_id"]
        for r in dedup.cluster_survivors(
            corpus.select("vec_id"), pairs, id_col="vec_id"
        ).collect()
    }
    assert got == want


def test_append_mode_extend(spark, emb, tmp_path_factory):
    """mode='append': result-identical to rewrite mode, but NO existing
    file is opened or replaced — every pre-extend inode survives, write
    cost is O(batch) — and the standard leaf compaction folds the
    appended files back without changing the table's content."""
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)

    whr = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_rw")))
    wha = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_ap")))
    d1 = AI.build_ann_index(whr, even, "idx", n_lists=N_LISTS, m=8, k=32)
    d2 = AI.build_ann_index(wha, even, "idx", n_lists=N_LISTS, m=8, k=32)
    assert d1 == d2

    def inodes(wh):
        out = {}
        root = wh.path("idx")
        for dp, _, fns in os.walk(root):
            for fn in fns:
                if fn.endswith(".parquet"):
                    p = os.path.join(dp, fn)
                    out[os.path.relpath(p, root)] = os.stat(p).st_ino
        return out

    # a 3-vector batch first, so rewrite mode leaves lists untouched
    few = odd.orderBy("vec_id").limit(3)
    before_r = inodes(whr)
    r1 = AI.extend_ann_index(whr, spark, few, "idx")
    assert len(r1["touched_lists"]) < len({r.split("/")[0] for r in before_r})
    after_r = inodes(whr)
    touched = {f"list_id={t}" for t in r1["touched_lists"]}
    for rel, ino in before_r.items():
        if rel.split("/")[0] in touched:
            assert rel not in after_r, f"rewrite mode kept {rel}"
        else:
            assert after_r.get(rel) == ino, f"rewrite mode replaced {rel}"

    before = inodes(wha)
    r2 = AI.extend_ann_index(wha, spark, few, "idx", mode="append")
    assert r1 == r2
    rest = odd.join(few, "vec_id", "left_anti")
    r1 = AI.extend_ann_index(whr, spark, rest, "idx")
    r2 = AI.extend_ann_index(wha, spark, rest, "idx", mode="append")
    assert r1["added"] == r2["added"] and r1["touched_lists"] == r2["touched_lists"]
    after = inodes(wha)
    # EVERY pre-extend file survives untouched in append mode
    for rel, ino in before.items():
        assert after.get(rel) == ino, f"append mode replaced {rel}"
    assert len(after) > len(before)

    def content(wh):
        return {
            (r["vec_id"], tuple(r["code"]), r["list_id"])
            for r in wh.read(spark, "idx").collect()
        }

    assert content(wha) == content(whr)
    # descriptor untouched; appended files compact away content-neutrally
    assert wha.read_meta("idx")[AI.ANN_META_KEY] == d2
    want = content(wha)
    wha.compact(spark, "idx", target_file_bytes=1 << 30)
    assert content(wha) == want
    assert len(inodes(wha)) < len(after)


def test_rewrite_extend_crash_at_commit_swap(
    spark, emb, tmp_path_factory, monkeypatch
):
    """Rewrite mode commits through replace_files' staged swap: a crash
    at the swap leaves the index exactly as it was (same files, same
    inodes, same rows, no staging dir), and the rerun adds each vec_id
    exactly once."""
    wh = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_crash")))
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    AI.build_ann_index(wh, even, "idx", n_lists=4, m=8, k=16)
    root = wh.path("idx")

    def inodes():
        return {
            os.path.relpath(os.path.join(dp, fn), root): os.stat(
                os.path.join(dp, fn)
            ).st_ino
            for dp, _, fns in os.walk(root)
            for fn in fns
            if fn.endswith(".parquet")
        }

    before = inodes()
    n_before = wh.read(spark, "idx").count()

    def boom(self, *a, **kw):
        raise RuntimeError("injected crash in the commit swap")

    monkeypatch.setattr(ParquetWarehouse, "_commit_swap", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        AI.extend_ann_index(wh, spark, odd, "idx")
    monkeypatch.undo()

    assert inodes() == before
    assert wh.read(spark, "idx").count() == n_before
    assert not [n for n in os.listdir(wh.root) if n.startswith(".tmp-")]

    res = AI.extend_ann_index(wh, spark, odd, "idx")
    assert res["added"] == odd.count()
    ids = [r.vec_id for r in wh.read(spark, "idx").select("vec_id").collect()]
    assert len(ids) == len(set(ids)) == emb.count()


def test_append_mode_refusals(spark, emb, tmp_path_factory):
    wh = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_apr")))
    even = emb.filter(F.col("vec_id") % 2 == 0)
    AI.build_ann_index(wh, even, "idx", n_lists=N_LISTS, m=8, k=32)
    with pytest.raises(ValueError, match="not in rewrite/append"):
        AI.extend_ann_index(wh, spark, emb, "idx", mode="upsert")


def test_append_mode_folds_pending_deletes(spark, emb, tmp_path_factory):
    """r19 (the append pending-deletes fold, applied to the ANN index):
    an append-mode extend while merge-on-read deletes pend no longer
    refuses — the batch masks against the pending vec_ids, new vectors
    land, a re-asserted deleted vec stays erased, and the sidecar stays
    intact so old files keep masking at read."""
    wh = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_apf")))
    even = emb.filter(F.col("vec_id") % 2 == 0)
    AI.build_ann_index(wh, even, "idx", n_lists=N_LISTS, m=8, k=32)
    victim = even.select(F.min("vec_id")).first()[0]
    wh.delete_keys(spark, "idx", "vec_id", [victim])
    batch = emb.filter(
        (F.col("vec_id") % 2 == 1) | (F.col("vec_id") == victim)
    )
    AI.extend_ann_index(wh, spark, batch, "idx", mode="append")
    got = {r["vec_id"] for r in wh.read(spark, "idx").select("vec_id").collect()}
    assert victim not in got  # re-asserted subject stays erased
    assert got == {
        r["vec_id"] for r in emb.select("vec_id").collect()
    } - {victim}
    assert wh.pending_deletes("idx") is not None  # sidecar intact
    wh.materialize_deletes(spark, "idx")
    got2 = {r["vec_id"] for r in wh.read(spark, "idx").select("vec_id").collect()}
    assert victim not in got2


def test_append_mode_extends_derived_manifests(
    spark, emb, tmp_path_factory
):
    """r18: append-mode extends EXTEND the zone-map/bloom sidecars in
    O(batch) instead of dropping them — pruned reads and metadata stats
    must describe the post-append file set exactly (the pre-r18 drop
    made continuous ingest rebuild manifests O(index) per sync)."""
    wh = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_zm")))
    even = emb.filter(F.col("vec_id") % 2 == 0)
    AI.build_ann_index(wh, even, "idx", n_lists=N_LISTS, m=8, k=32)
    wh.write_zonemap(spark, "idx", ["vec_id"])
    wh.write_bloom(spark, "idx", ["vec_id"])
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    AI.extend_ann_index(wh, spark, odd, "idx", mode="append")
    st = wh.metadata_stats("idx")
    assert st is not None and st["rows"] == emb.count()
    key = odd.agg(F.min("vec_id")).first()[0]  # an APPENDED id
    hit = wh.read_bloom_keys(spark, "idx", "vec_id", [key])
    assert [r["vec_id"] for r in hit.select("vec_id").collect()] == [key]
    assert len(hit.inputFiles()) < len(wh.bloom("idx")["files"])


def test_append_mode_sweeps_abandoned_staging(spark, emb, tmp_path_factory):
    """A crashed append's sibling staging dir is removed by the next
    fenced append instead of accreting forever."""
    wh = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_sweep")))
    even = emb.filter(F.col("vec_id") % 2 == 0)
    AI.build_ann_index(wh, even, "idx", n_lists=N_LISTS, m=8, k=32)
    root = wh.path("idx").rstrip("/")
    ghost = os.path.join(
        os.path.dirname(root),
        f".{os.path.basename(root)}.append-tmp-deadbeef",
    )
    os.makedirs(ghost)
    AI.extend_ann_index(
        wh, spark, emb.filter(F.col("vec_id") % 2 == 1), "idx",
        mode="append",
    )
    assert not os.path.isdir(ghost)


def test_dup_pairs_keep_single_direction_discoveries(
    spark, tmp_path_factory
):
    """A pair present in only ONE endpoint's top-k (the other list
    saturated by a closer neighbor) must survive: directions normalize
    to (least, greatest) instead of being filtered to probe<vec. With
    k=1 on a near-dup triple, the old filter could leave the highest-id
    member isolated (2 survivors); the fix connects all three (1)."""
    import numpy as _np

    rng = [0.0] * 64
    base = _np.ones(64)
    rows = []
    for vid, eps in [(1, 0.0), (2, 1e-4), (3, 5e-3)]:
        v = base.copy()
        v[0] += eps
        rows.append((vid, [float(x) for x in v]))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    whd = ParquetWarehouse(str(tmp_path_factory.mktemp("annwh_dir")))
    AI.build_ann_index(whd, corpus, "idx", n_lists=1, m=8, k=2)
    survivors = AI.semantic_dedup_via_index(
        whd, spark, "idx", corpus, threshold=0.95, k=1
    ).collect()
    assert {r["vec_id"] for r in survivors} == {1}
