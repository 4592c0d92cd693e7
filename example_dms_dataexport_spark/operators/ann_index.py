"""Warehouse-managed IVF-PQ ANN index — the faiss ``IVFPQ`` design
(Jégou et al. 2011) expressed as a warehouse table + layout contract.

``operators/pq`` gives the compressed scoring kernel; this module makes
it a MANAGED INDEX: ``build_ann_index`` trains the coarse quantizer
(k-means as the m=1 degenerate PQ — same deterministic sampled-Lloyd
trainer) and the PQ codebook, encodes the corpus, and commits the codes
as a warehouse table HIVE-PARTITIONED BY COARSE LIST with both
codebooks in the table's atomic ``meta`` sidecar — index data and index
parameters can never drift (they commit in one swap, and a rebuild
replaces both).

Why this layout at 100 TB: a probe visits ``nprobe`` of ``n_lists``
coarse lists, and because each list is a hive partition the pruned read
is STATIC partition pruning at planning time — the scan never opens the
other partitions' files. Scoring inside the visited lists is the pure-
JVM ADC kernel from ``operators/pq`` (m ``element_at`` lookups per
corpus row against the probe's broadcast lookup table). Total cost per
query batch: read nprobe/n_lists of the (already 32x compressed) codes,
one broadcast, one top-k window — no full-corpus anything.

Correctness anchors (tests/test_ann_index.py): with
``nprobe = n_lists`` the query is EXACTLY ``pq.pq_search`` over the
same codes (the IVF tier only prunes, never re-scores), and with a
full shortlist + rerank it reproduces brute force; recall floors pin
the pruned tiers, and the plan pin asserts the partition filter
actually reached the scan.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType
from pyspark.sql.window import Window

from ..partitioning import spread
from ..session import local_frame
from .pq import (
    PQ_TRAIN_SAMPLE_CAP,
    _collect_sample,
    _cosine,
    _lloyd_from_sample,
    _norm,
    adc_score,
    assign_udf,
)
from .simsearch import EMBED_DIM, as_double

ANN_META_KEY = "ann_index"


def _encode_with_lists(
    vectors: DataFrame, book: dict, coarse: dict, vec_col: str, id_col: str
) -> DataFrame:
    """(vec_id, code, vnorm, list_id) in ONE projection pass: both
    codebooks' assigners run over the same scan (ONE ArrowEvalPython
    node — Spark ships ``_v`` across the Python boundary once and runs
    both assigners in the same worker pass) — encoding the corpus
    never joins two derivations of itself. The warehouse's
    partitioned-write REBALANCE (``_cluster_for_partitioned_write``)
    then clusters the rows by coarse list at the commit boundary;
    without it every encode task fanned a file into every list dir
    (tasks x n_lists tiny files — 256 for the sentinel's 2000 rows).
    That shuffle moves only the 32x-compressed codes, never the float
    vectors (guide §6 file sizing, §8 shuffle-the-proxy)."""
    a_book, a_coarse = assign_udf(book), assign_udf(coarse)
    dim = int(book["dim"])
    v = as_double(vec_col)
    return (
        spread(vectors)
        .select(F.col(id_col).alias("vec_id"), v.alias("_v"))
        .filter(F.size("_v") == dim)
        .withColumn("vnorm", _norm(F.col("_v"), dim))
        .filter(F.col("vnorm") > 0)
        .select(
            "vec_id",
            a_book(F.col("_v")).alias("code"),
            "vnorm",
            F.element_at(a_coarse(F.col("_v")), 1).alias("list_id"),
        )
    )


def build_ann_index(
    wh,
    vectors: DataFrame,
    name: str,
    n_lists: int = 16,
    m: int = 8,
    k: int = 64,
    iters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = EMBED_DIM,
    sample_cap: int | None = None,
    span_sink: dict | None = None,
) -> dict:
    """Train, encode, and commit the index table ``name``; returns the
    index descriptor (also persisted in the table's ``meta`` sidecar).

    The coarse quantizer is ``pq_train(m=1, k=n_lists)`` — plain
    k-means through the same deterministic sampled-Lloyd path, so the
    whole index (lists, codes, codebooks) is a pure function of the
    corpus. The codes table is (vec_id, code, vnorm, list_id),
    partitioned by list_id; rebuilding is one more ``overwrite`` — the
    swap replaces data and descriptor atomically.

    ``span_sink``: optional dict that receives the build's wall-time
    decomposition (``train_sample_s`` — distributed scan + driver
    fetch of the capped sample; ``lloyd_coarse_s`` / ``lloyd_pq_s`` —
    driver-side numpy Lloyd; ``encode_commit_s`` — the distributed
    encode + partitioned write, the only span that scales with corpus
    size). Observability only (the r19 verdict's sentinel-split ask);
    the timed work is identical with or without it.
    """
    import time as _time

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    # ONE corpus scan + sample collect trains BOTH codebooks (they use
    # the identical deterministic sample; scanning twice doubled the
    # most expensive phase of the build)
    _t = _time.monotonic()
    x = _collect_sample(
        vectors,
        vec_col,
        dim,
        sample_cap if sample_cap is not None else PQ_TRAIN_SAMPLE_CAP,
    )
    if span_sink is not None:
        span_sink["train_sample_s"] = round(_time.monotonic() - _t, 3)
        _t = _time.monotonic()
    coarse = _lloyd_from_sample(x, 1, n_lists, iters, dim)
    if span_sink is not None:
        span_sink["lloyd_coarse_s"] = round(_time.monotonic() - _t, 3)
        _t = _time.monotonic()
    book = _lloyd_from_sample(x, m, k, iters, dim)
    if span_sink is not None:
        span_sink["lloyd_pq_s"] = round(_time.monotonic() - _t, 3)
        _t = _time.monotonic()
    desc = {
        "n_lists": n_lists,
        "coarse": coarse,
        "book": book,
        "dim": dim,
        "id_col": id_col,
    }
    # opt-in dir-clustering rebalance (overwrite never rebalances
    # implicitly): without it every encode task fans a file into every
    # list dir — tasks x n_lists tiny files (256 for the sentinel's
    # 2000 rows); the shuffle moves only the 32x-compressed codes
    # (guide §6 file sizing, §8 shuffle-the-proxy). The extend path
    # gets the same clustering from append_files' staging rebalance.
    wh.overwrite(
        _encode_with_lists(vectors, book, coarse, vec_col, id_col).hint(
            "rebalance", "list_id"
        ),
        name,
        partition_by=["list_id"],
        meta={ANN_META_KEY: desc},
    )
    if span_sink is not None:
        span_sink["encode_commit_s"] = round(_time.monotonic() - _t, 3)
    return desc


def extend_ann_index(
    wh,
    spark: SparkSession,
    new_vectors: DataFrame,
    name: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "rewrite",
) -> dict:
    """Incremental index maintenance: encode ONLY the new vectors with
    the index's FROZEN codebooks and append them into their coarse-list
    partitions — the at-scale refresh path (re-training/re-encoding the
    corpus per ingest batch is exactly what an index exists to avoid;
    faiss likewise adds to a trained index without retraining).

    ``mode`` picks the commit shape:

    - ``"rewrite"``: read the touched list partitions, union, and
      commit copy-on-write through ``replace_files``: the touched
      lists' files are replaced, every other list's files hard-link
      through with their inodes intact, and the zone-map / bloom
      manifests are maintained. Write amplification is O(touched list
      size) per batch — right for occasional large extends.
    - ``"append"``: stage the new rows as their own parquet files and
      RENAME them into the touched partition dirs — write cost is
      O(batch), independent of list size; no existing file is opened
      or replaced (ALL prior inodes survive, pinned). This is the
      continuous-ingest shape (each rename is atomic, so readers never
      see a torn file; a crash mid-batch leaves a PREFIX of the batch
      appended — re-entry must dedup against the index first, which
      ``start_ann_ingest_stream``'s reconciling join does). Zone-map /
      bloom manifests extend in O(batch), and abandoned staging dirs
      from crashed appends sweep on the next fenced append.
      Small-file accretion is curable with the standard
      ``wh.compact(spark, name)`` leaf repack. Refused on versioned
      tables; pending merge-on-read deletes mask the batch instead of
      refusing (``append_files``). Rewrite mode refuses them.

    In both modes the codebooks and descriptor are untouched at the
    table root, and the append-only id contract is enforced under the
    table's mutation fence: ids already indexed refuse loudly (an
    upsert would need a merge, and silently re-encoding a changed
    vector under a stale id would corrupt recall measurements).
    Returns ``{"added", "touched_lists"}``.
    """
    if mode not in ("rewrite", "append"):
        raise ValueError(f"mode {mode!r} not in rewrite/append")
    desc = wh.read_meta(name)[ANN_META_KEY]
    new_tbl = _encode_with_lists(
        new_vectors, desc["book"], desc["coarse"], vec_col, id_col
    ).persist()
    try:
        if new_tbl.limit(1).count() == 0:
            return {"added": 0, "touched_lists": []}
        # The append-only dup check MUST observe the index under the
        # same mutation fence that commits the append: checked outside
        # it, two concurrent extends adding the same vec_id would both
        # pass and both commit, silently violating the
        # each-id-exactly-once invariant this error message promises.
        with wh._write_fence(name):
            # Append-only dup probe. Bloom-manifest-pruned when the
            # index carries a vec_id manifest and the batch is
            # probe-bounded (r18): only bloom-HIT partition files open.
            # Fallback: columnar id-only semi-join against the whole
            # index (reads the vec_id column, not the codes).
            dup = None
            bm = wh.bloom(name)
            if bm is not None and "vec_id" in bm["cols"]:
                from ..sources.warehouse import DELETE_BLOOM_PROBE_CAP

                ids = [
                    r[0]
                    for r in new_tbl.select("vec_id")
                    .limit(DELETE_BLOOM_PROBE_CAP + 1)
                    .collect()
                ]
                if any(i is None for i in ids):
                    # sorted() below would TypeError on None — refuse
                    # with the contract's message instead
                    raise ValueError(
                        f"extend of ANN index {name!r}: batch carries "
                        "a NULL vec_id — ids must be non-NULL"
                    )
                if len(ids) <= DELETE_BLOOM_PROBE_CAP:
                    try:
                        dup = (
                            wh.read_bloom_keys(
                                spark, name, "vec_id", sorted(set(ids))
                            )
                            .select("vec_id")
                            .limit(1)
                            .collect()
                        )
                    except ValueError:
                        dup = None  # stale manifest: full probe below
            if dup is None:
                dup = (
                    wh.read(spark, name)
                    .select("vec_id")
                    .join(new_tbl.select("vec_id"), "vec_id", "left_semi")
                    .limit(1)
                    .collect()
                )
            if dup:
                raise ValueError(
                    f"ann index {name!r} already holds vec_id "
                    f"{dup[0]['vec_id']} — the index is append-only; "
                    "rebuild or materialize deletes before re-adding "
                    "an id"
                )
            stats = new_tbl.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("vec_id").alias("nd"),
                F.collect_set("list_id").alias("lists"),
            ).first()
            if stats["nd"] != stats["n"]:
                raise ValueError(
                    f"new batch repeats {stats['n'] - stats['nd']} "
                    "vec_id(s) — the index holds each id exactly once; "
                    "dedup the batch first"
                )
            touched = sorted(stats["lists"])
            if mode == "append":
                # the generic O(batch) INSERT INTO primitive, run under
                # THIS fence (its checks: the versioned refusal, the
                # pending-delete mask, schema match, zone-map
                # invalidation, crashed-staging sweep, atomic per-file
                # renames; the list_id dirs come from the index's
                # recorded layout)
                wh._append_files_unlocked(spark, new_tbl, name)
            else:
                # the touched lists' files, listed from their dirs (no
                # Spark job; integer list ids render exactly); the
                # staged commit makes reading them while writing safe
                base = wh.path(name)
                replaced = [
                    os.path.join(f"list_id={t}", rel)
                    for t in touched
                    for rel in wh._walk_parquet_rels(
                        os.path.join(base, f"list_id={t}")
                    )
                ]
                cur = (
                    wh.read(spark, name)
                    .filter(F.col("list_id").isin(touched))
                    .select(*new_tbl.columns)
                )
                wh._replace_files_unlocked(
                    cur.unionByName(new_tbl), name, replaced
                )
        return {"added": stats["n"], "touched_lists": touched}
    finally:
        new_tbl.unpersist()



def _nearest_lists_udf(coarse: dict, nprobe: int):
    """Arrow-batched nprobe-nearest-coarse-list assigner: exact L2
    against the coarse centroids, ties to the lower list id (stable
    argsort)."""
    from pyspark.sql.functions import pandas_udf

    cent = np.asarray(coarse["centroids"], dtype=np.float64)[0]  # (C, dim)

    @pandas_udf(ArrayType(IntegerType()))
    def nearest(vecs: pd.Series) -> pd.Series:
        x = np.asarray([np.asarray(e, dtype=np.float64) for e in vecs])
        if x.size == 0:
            return pd.Series([], dtype=object)
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)  # (n, C)
        order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    return nearest


def ann_query(
    wh,
    spark: SparkSession,
    name: str,
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    shortlist: int | None = None,
    rerank_with: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    collect_probes: bool = True,
) -> DataFrame:
    """Top-k ANN against the committed index: (probe_id, vec_id, score,
    rank) — the ``knn_*``/``pq_search`` output contract.

    Two pruning tiers compose: the UNION of every probe's visited lists
    becomes a static ``isin`` partition filter (planning-time pruning —
    unvisited partitions' files are never opened), and the per-probe
    equi-join on ``list_id`` restricts scoring to each probe's OWN
    lists inside that union. With ``rerank_with`` the ADC pass
    shortlists and exact cosine re-scores only the shortlist.

    ``collect_probes`` picks how the probe relation materializes:

    - ``True`` (point/batch queries): ONE collect brings the lists+LUT
      relation to the driver — the broadcast side and the visited-list
      union come from the same pass, and the whole probe side must be
      broadcast-sized anyway.
    - ``False`` (corpus-scale probes, e.g. routing semantic dedup
      through the index): the probe relation stays DISTRIBUTED
      (localCheckpoint computes the numpy udfs once); only the
      visited-list UNION — bounded by ``n_lists``, not by probe count —
      reaches the driver via ``collect_set(explode(lists))`` to become
      the static partition filter. The scoring and rerank joins drop
      their forced broadcasts on this path — plain equi-joins on
      ``list_id``/``probe_id`` that AQE upgrades to broadcast only when
      the probe side really is small, so unbounded probe counts never
      route through the driver.
    """
    desc = wh.read_meta(name)[ANN_META_KEY]
    book, coarse = desc["book"], desc["coarse"]
    from .pq import _lut_udf

    dim = int(book["dim"])
    v = as_double(vec_col)
    nearest = _nearest_lists_udf(coarse, nprobe)
    lut = _lut_udf(book)
    # one projection computes BOTH probe-side relations (visited lists
    # + ADC lookup table); one materialization (collect or checkpoint)
    # keeps the probe scan + numpy udfs from running twice
    pl_df = (
        probes.select(F.col(id_col).alias("probe_id"), v.alias("_v"))
        .filter(F.size("_v") == dim)
        .withColumn("pnorm", _norm(F.col("_v"), dim))
        .filter(F.col("pnorm") > 0)
        .select(
            "probe_id",
            nearest(F.col("_v")).alias("lists"),
            lut(F.col("_v")).alias("lut"),
            "pnorm",
        )
    )
    if collect_probes:
        pl_rows = pl_df.collect()
        pl = local_frame(spark, pl_rows, pl_df.schema)
        visited = sorted({l for r in pl_rows for l in r["lists"]})
    else:
        pl = pl_df.localCheckpoint()
        agg = pl.select(F.explode("lists").alias("l")).agg(
            F.collect_set("l").alias("ls")
        ).first()
        visited = sorted(agg["ls"] or [])
    probe_rel = pl.select(
        "probe_id", F.explode("lists").alias("list_id"), "lut", "pnorm"
    )
    codes = wh.read(spark, name).filter(F.col("list_id").isin(visited))
    # corpus-scale probes (collect_probes=False) must not force a
    # probe-sized broadcast through the driver: the scoring join
    # becomes a plain equi-join on list_id and AQE picks broadcast
    # only if the probe side really is small. Point/batch queries keep
    # the forced broadcast (the probe relation is broadcast-sized by
    # that contract, and skipping the exchange matters at that grain).
    probe_side = F.broadcast(probe_rel) if collect_probes else probe_rel
    scored = (
        codes.join(probe_side, "list_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", adc_score(book).alias("score"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("score"), F.asc("vec_id"))
    if rerank_with is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("probe_id", "vec_id", "score", "rank")
        )
    n_short = shortlist if shortlist is not None else 4 * k
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_short)
        .select("probe_id", "vec_id")
    )
    vecs = rerank_with.select(
        F.col(id_col).alias("_rid"), as_double(vec_col).alias("_rv")
    ).filter(_norm(F.col("_rv"), dim) > 0)
    probe_vecs = vecs.select(
        F.col("_rid").alias("probe_id"), F.col("_rv").alias("_pv")
    )
    exact = (
        cand.join(
            vecs.select(F.col("_rid").alias("vec_id"), F.col("_rv").alias("_cv")),
            "vec_id",
        )
        .join(
            # same rule as the scoring join: forced broadcast only for
            # the broadcast-sized point/batch probe contract
            F.broadcast(probe_vecs) if collect_probes else probe_vecs,
            "probe_id",
        )
        .select(
            "probe_id",
            "vec_id",
            _cosine(F.col("_cv"), F.col("_pv"), dim).alias("score"),
        )
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "score", "rank")
    )


def index_dup_pairs(
    wh,
    spark: SparkSession,
    name: str,
    corpus: DataFrame,
    threshold: float = 0.95,
    k: int = 20,
    nprobe: int | None = None,
    shortlist: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id_a, id_b, score) near-duplicate candidate pairs THROUGH the
    managed index — the corpus-scale composition that proves the index
    serves the pipeline, not just point queries (SemDeDup's pair stage
    routed via IVF-PQ instead of q31's LSH sign-buckets).

    The whole corpus becomes the probe relation with
    ``collect_probes=False`` — nothing corpus-sized touches the driver;
    only the visited-list union (bounded by ``n_lists``) does. Each
    probe ADC-scans just its ``nprobe`` lists, the shortlist reranks
    with EXACT cosine against ``corpus``, and pairs above ``threshold``
    survive. ``nprobe`` defaults to the index's ``n_lists`` (exhaustive
    visit — exact recall, still partition-local scoring); lower it for
    the at-scale recall/cost trade faiss makes.

    Both discovery directions contribute: pair (a, b) found only in
    ONE endpoint's top-k (the other endpoint's list saturated by
    closer neighbors) still survives — directions normalize to
    (least, greatest) and the exact rerank makes the two directions'
    scores bit-identical (dot and norm-product are commutative), so
    the dedup is a plain ``distinct``. ``k`` still bounds fan-out: a
    pair outside BOTH endpoints' top-k is missed; transitive closure
    downstream usually recovers it (SemDeDup needs components, not
    the full clique).
    """
    if nprobe is None:
        nprobe = int(wh.read_meta(name)[ANN_META_KEY]["n_lists"])
    res = ann_query(
        wh,
        spark,
        name,
        probes=corpus,
        k=k,
        nprobe=nprobe,
        shortlist=shortlist if shortlist is not None else 4 * k,
        rerank_with=corpus,
        vec_col=vec_col,
        id_col=id_col,
        collect_probes=False,
    )
    return (
        res.filter(F.col("score") >= threshold)
        .select(
            F.least("probe_id", "vec_id").alias("id_a"),
            F.greatest("probe_id", "vec_id").alias("id_b"),
            "score",
        )
        .distinct()
    )


def semantic_dedup_via_index(
    wh,
    spark: SparkSession,
    name: str,
    corpus: DataFrame,
    threshold: float = 0.95,
    k: int = 20,
    nprobe: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup survivors (q82's contract) with the pair stage served by
    the managed IVF-PQ index: candidate pairs from ``index_dup_pairs``,
    connected components + min-id survivor from ``cluster_survivors``.
    With ``nprobe=None`` (exhaustive visit) and the planted-duplicate
    fixture this is pinned result-identical to the LSH-blocked q82
    path; at scale, ``nprobe < n_lists`` trades recall for an
    ``nprobe/n_lists`` scan fraction."""
    from .dedup import cluster_survivors

    pairs = index_dup_pairs(
        wh, spark, name, corpus, threshold=threshold, k=k,
        nprobe=nprobe, vec_col=vec_col, id_col=id_col,
    )
    return cluster_survivors(
        corpus.select(id_col), pairs, id_col=id_col
    )
