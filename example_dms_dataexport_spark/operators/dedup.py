"""Deduplication operators for training-data pipelines.

Four families, in increasing fuzziness:

- exact: content-hash groupBy, keep the lowest id (one shuffle on the hash)
- MinHash + LSH: char-shingle signatures -> banded buckets -> candidate
  pairs -> exact-Jaccard verification (the Broder/LSH construction used by
  every large-scale corpus dedup; all joins shuffle on bounded keys)
- SimHash: 32-bit token-hash sketch, byte-banded candidate pairs, Hamming
  verification (Charikar; used by web-crawl dedup)
- n-gram Jaccard: exact word-n-gram set overlap with stop-shingle pruning
  (document-frequency cap) to block the quadratic blowup

100 TB design notes:
- every pairwise step is *blocked* (LSH band key / simhash byte / shared
  rare n-gram) — there is no unblocked crossJoin anywhere;
- signature computation is a single explode + partial-aggregated groupBy
  per doc (map-side combine shrinks the shuffle to one row per doc);
- candidate pair sets are orders of magnitude smaller than the corpus, so
  the verification joins broadcast the pair list when it fits;
- the frequency cap in n-gram dedup is the standard "stop shingle" guard:
  an n-gram appearing in >max_df docs generates O(max_df^2) pairs, so it is
  dropped from BOTH the candidate and the verification sets (documented,
  mirrored in the oracle SQL).

All arithmetic matches ``functions.texthash`` bit-for-bit with the DuckDB
oracles.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import texthash as TH
from ..partitioning import spread
from ..session import local_frame

SIMHASH_BITS = 32
SIMHASH_BYTES = 4


# --- exact ------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one row (lowest id) per distinct content hash (md5).

    One min_by aggregation on the 128-bit content hash: uniform keys, one
    shuffle, partial-combined map-side (each partition forwards one
    candidate row per hash), and no join-back to fetch the kept row.
    """
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.withColumn("_chash", F.md5(F.col(text_col)))
        .groupBy("_chash")
        .agg(F.min_by(row, F.col(id_col)).alias("_keep"))
        .select("_keep.*")
    )


# --- MinHash + LSH ----------------------------------------------------------


def shingle_set(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle) rows — distinct char-k shingles per document."""
    return df.select(
        id_col, F.explode(TH.char_shingles(F.col(text_col))).alias("shingle")
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, mh0..mh{N-1}) MinHash signature via explode + one groupBy.

    The N permutation-mins are N agg expressions over the same shingle-hash
    column: Spark's hash aggregate computes partial mins map-side, so the
    shuffle carries exactly one row per document.
    """
    df = spread(df)  # hashing is the cost — unlock every core first
    h = shingle_set(df, id_col, text_col).select(
        id_col, TH.poly_hash_short(F.col("shingle"), TH.SHINGLE_K).alias("h")
    )
    return h.groupBy(id_col).agg(
        *[
            F.min(TH.minhash_perm(F.col("h"), i)).alias(f"mh{i}")
            for i in range(TH.NUM_HASHES)
        ]
    )


def lsh_bands(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, key): signature split into LSH_BANDS banded keys."""
    r = TH.NUM_HASHES // TH.LSH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-", *[F.col(f"mh{b * r + j}").cast("string") for j in range(r)]
                ).alias("key"),
            )
            for b in range(TH.LSH_BANDS)
        ]
    )
    return sigs.select(id_col, F.explode(bands).alias("bk")).select(
        id_col, "bk.band", "bk.key"
    )


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one band bucket.

    Self-equi-join on (band, key): Catalyst shuffles both sides on the
    bucket key; bucket sizes are the skew lever — more rows per band
    lowers collision probability (tune LSH_BANDS/NUM_HASHES).
    """
    b = lsh_bands(sigs, id_col)
    a_side, b_side = b.alias("a"), b.alias("b")
    return (
        a_side.join(
            b_side,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    cand: DataFrame,
    shingle_sets: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard for candidate pairs over per-doc shingle ARRAYS.

    ``shingle_sets``: (id, _sh array<string>) — one row per doc. Joining
    the arrays onto the (small) pair list and intersecting JVM-side costs
    two hash joins of |cand| rows instead of re-shuffling the exploded
    shingle relation (|corpus| * shingles rows) through a shingle-keyed
    self-join — the candidate list, not the corpus, pays for verification.
    """
    sa = shingle_sets.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa"))
    sb = shingle_sets.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb"))
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter
                / (F.size("_sa") + F.size("_sb") - inter).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def corpus_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(sets, sigs): per-doc shingle arrays and MinHash signatures, both
    persisted — the dedup "index" relations. Persist because the shingle
    arrays feed signature computation (exploded) AND exact verification
    (as arrays), and the band join reads signatures twice. In a live
    corpus these two relations ARE the signature store: write them to the
    warehouse and feed them back through ``incremental_dedup_pairs``."""
    sets = (
        spread(df)
        .select(id_col, TH.char_shingles(F.col(text_col)).alias("_sh"))
        .persist()
    )
    h = sets.select(
        id_col, F.explode("_sh").alias("shingle")
    ).select(id_col, TH.poly_hash_short(F.col("shingle"), TH.SHINGLE_K).alias("h"))
    sigs = h.groupBy(id_col).agg(
        *[
            F.min(TH.minhash_perm(F.col("h"), i)).alias(f"mh{i}")
            for i in range(TH.NUM_HASHES)
        ]
    ).persist()
    return sets, sigs


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> verified
    (id_a, id_b, jaccard) pairs at or above threshold."""
    sets, sigs = corpus_signatures(df, id_col, text_col)
    cand = lsh_candidate_pairs(sigs, id_col)
    return jaccard_verify(cand, sets, id_col, threshold)


def incremental_dedup_pairs(
    new_df: DataFrame,
    store_sets: DataFrame,
    store_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs INTRODUCED by a new batch: new-vs-store plus
    new-vs-new, verified exactly — without ever re-pairing the store
    against itself.

    This is what continuous corpus ingestion needs: per batch the cost is
    O(|batch| signatures) + band joins of batch-bands against store-bands
    — the store contributes only its (persisted, warehouse-resident)
    ``corpus_signatures`` relations, never a re-scan of its text. Output
    ids are ordered id_a < id_b, so the result equals the full-recompute
    ``minhash_dedup_pairs`` over (store + batch) restricted to pairs that
    touch the batch (pinned by test + the q67 oracle).
    """
    new_sets, new_sigs = corpus_signatures(new_df, id_col, text_col)
    nb = lsh_bands(new_sigs, id_col)
    sb = lsh_bands(store_sigs, id_col)
    cross = (
        nb.alias("a")
        .join(
            sb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    within = lsh_candidate_pairs(new_sigs, id_col)
    cand = cross.unionByName(within).distinct()
    all_sets = new_sets.unionByName(store_sets)
    return jaccard_verify(cand, all_sets, id_col, threshold)


# --- connected-components clustering ---------------------------------------


# Edge lists at or below this row count cluster on the driver via
# union-find (one collect, zero per-round Spark jobs); larger graphs
# keep the distributed min-label loop. 4M edges of two int64 ids is a
# comfortably driver-safe collect, and both paths are pinned identical
# by tests.
LOCAL_EDGES_MAX = 4_000_000


def _cluster_local(rows) -> dict:
    """Driver-side twin of the min-label loop: union-find with path
    compression, then label every node with its component's minimum id
    — exactly the fixed point the distributed propagation converges to."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = find(r["src"]), find(r["dst"])
        if a != b:
            parent[b] = a
    comp_min: dict = {}
    nodes = set(parent)
    for r in rows:
        nodes.add(r["src"])
        nodes.add(r["dst"])
    roots = {x: find(x) for x in nodes}
    for x, root in roots.items():
        if root not in comp_min or x < comp_min[root]:
            comp_min[root] = x
    return {x: comp_min[root] for x, root in roots.items()}


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    local_threshold: int = LOCAL_EDGES_MAX,
) -> DataFrame:
    """(id, cluster_id) for every id in the pair list: connected components
    with ``cluster_id`` = the minimum id of the component.

    Per-pair survivor selection (drop ``id_b`` of every pair) over-deletes
    on chains: A~B, B~C (A!~C) removes both B and C, where component-level
    dedup keeps one of them. This is the clustering step the
    RefinedWeb/Dolma-style corpus pipelines run between candidate
    generation and deletion.

    Algorithm: iterative min-label propagation (hash-to-min). Every node
    starts labeled with itself; each round every node takes the min label
    over itself and its neighbors. Rounds needed = the largest component's
    diameter — near-dup components are shallow star/chain shapes in
    practice, and ``max_iter`` guards the pathological chain. (The
    alternating large-star/small-star variant converges in O(log^2 n)
    rounds; with diameters this small the simpler propagation wins on
    per-round cost: one equi-join + one partial-aggregated groupBy, both
    shuffling on uniformly-distributed ids.)

    Each round is ``localCheckpoint``-ed: iterative plans otherwise grow a
    lineage that makes Catalyst analysis itself the bottleneck. On a real
    cluster with executor loss, swap for reliable ``checkpoint`` with a
    checkpoint dir.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    # Adaptive execution (the BPE/k-means pattern: the data-scale pass —
    # candidate-pair generation — already ran distributed; the graph it
    # produced is usually tiny relative to the corpus): a small edge list
    # collects once and clusters driver-side, replacing 3+ Spark jobs per
    # propagation round. Larger graphs keep the distributed loop below.
    if edges.count() <= local_threshold:
        try:
            label_of = _cluster_local(edges.collect())
        finally:
            edges.unpersist()
        id_type = pairs.schema[id_a].dataType
        # nullable=True to match the distributed loop's output schema
        schema = T.StructType(
            [
                T.StructField("id", id_type, True),
                T.StructField("cluster_id", id_type, True),
            ]
        )
        return local_frame(
            pairs.sparkSession, sorted(label_of.items()), schema
        )
    labels = (
        edges.select(F.col("src").alias("id"), F.col("src").alias("cluster_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Labels only ever DECREASE (new = min(old, neighbor labels)). For
    # INTEGRAL ids the decimal sum of labels is therefore a monotone
    # convergence witness — unchanged sum <=> no label changed — costing
    # one scan-aggregate over the just-checkpointed relation per round
    # instead of a join (an extra shuffle) against the previous labels.
    # Only integral types qualify: the decimal(38,0) cast ROUNDS, so a
    # sub-integer decrease (fractional ids) could leave the sum unchanged
    # before convergence. Everything else uses the join-based count.
    numeric_ids = dict(edges.dtypes)["src"] in (
        "tinyint",
        "smallint",
        "int",
        "bigint",
    )

    def _label_sum(rel: DataFrame):
        return rel.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _label_sum(labels) if numeric_ids else None
    changed = True
    for _ in range(max_iter):
        neighbor_min = edges.join(
            labels.select(F.col("id").alias("dst"), "cluster_id"), "dst"
        ).select(F.col("src").alias("id"), "cluster_id")
        new_labels = (
            neighbor_min.unionByName(labels)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        if numeric_ids and not (
            (cur_sum := _label_sum(new_labels)) is None or prev_sum is None
        ):
            changed = cur_sum != prev_sum
            prev_sum = cur_sum
        else:
            # Non-integral ids — or a NULL sum, i.e. decimal(38,0)
            # overflow (non-ANSI Spark returns NULL; None != None would
            # read as "converged" and silently return unconverged
            # labels): decide with the join-based count instead.
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
                .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                .count()
                > 0
            )
            if numeric_ids:
                prev_sum = cur_sum
        labels = new_labels
        if not changed:
            break
    else:
        # loop exhausted without converging: the partial labels would split
        # components (survivor selection would under-delete) — never return
        # silently-wrong clusters
        edges.unpersist()
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} iterations "
            "(labels still changing); a component's diameter exceeds "
            "max_iter — raise max_iter"
        )
    edges.unpersist()
    return labels


def cluster_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep one row per near-dup component (the min id) plus every row not
    in any pair — component-level survivor selection over a pair list."""
    losers = (
        dedup_clusters(pairs, id_a, id_b)
        .filter(F.col("cluster_id") != F.col("id"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


# --- SimHash ----------------------------------------------------------------


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash): 32-bit Charikar sketch over token hashes.

    One explode + one groupBy; the 32 per-bit sign sums are partial-agg'd
    map-side like any other SUM, so the shuffle is one row per doc.
    """
    df = spread(df)
    h = df.select(
        id_col, F.explode(TH.tokens(F.col(text_col))).alias("tok")
    ).select(id_col, TH.poly_hash(F.col("tok")).alias("h"))
    per_doc = h.groupBy(id_col).agg(
        *[
            F.sum(F.expr(f"2 * ((h div {1 << j}) % 2) - 1")).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    val = reduce(
        lambda acc, j: acc
        + F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)),
        range(SIMHASH_BITS),
        F.lit(0),
    )
    return per_doc.select(id_col, val.cast("long").alias("simhash"))


def simhash_pairs(
    sim: DataFrame, id_col: str = "doc_id", max_hamming: int = 8
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within max_hamming bits.

    Pigeonhole blocking: the 32 bits are split into 4 bytes and pairs are
    generated on exact byte equality. Recall is guaranteed only for
    distance < 4 (some byte must then be untouched); beyond that it is the
    standard simhash blocking trade-off — pairs differing in all 4 bytes
    are missed by construction (mirrored exactly in the oracle SQL).
    """
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(f"(simhash div {1 << (8 * i)}) % 256").alias("key"),
            )
            for i in range(SIMHASH_BYTES)
        ]
    )
    # persist: the band relation is read by both sides of the self-join
    b = sim.select(id_col, "simhash", F.explode(bands).alias("bk")).select(
        id_col, "simhash", "bk.band", "bk.key"
    ).persist()
    a_side, b_side = b.alias("a"), b.alias("b")
    return (
        a_side.join(
            b_side,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --- n-gram Jaccard ---------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
    max_df: int = 20,
) -> DataFrame:
    """(id_a, id_b, jaccard) over word-n-gram sets, blocked by shared rare
    n-grams.

    Stop-shingle pruning: n-grams in > max_df docs are dropped from both
    the blocking AND the measured sets (Jaccard is over pruned sets —
    deliberate and mirrored in the oracle). This is what caps the
    worst-case pair fan-out at max_df^2 per n-gram at any corpus size.
    """
    t = spread(df).select(id_col, TH.tokens(F.col(text_col)).alias("toks"))
    # persist: g feeds df-count pruning, sizes, and both self-join sides
    g = t.select(
        id_col, F.explode(TH.word_ngrams(F.col("toks"), n)).alias("g")
    ).persist()
    # Prune by anti-joining against the FREQUENT n-grams (df > max_df): the
    # frequent relation shrinks as max_df grows and is ~corpus/max_df at
    # worst, whereas the rare complement grows linearly with the corpus —
    # broadcasting it OOMs executors at 100 TB. No join hint: AQE picks
    # broadcast when frequent happens to be small, shuffle otherwise.
    frequent = (
        g.groupBy("g")
        .agg(F.count("*").alias("df_count"))
        .filter(F.col("df_count") > max_df)
        .select("g")
    )
    g = g.join(frequent, "g", "left_anti")
    sizes = g.groupBy(id_col).agg(F.count("*").alias("n"))
    ga = g.select(F.col(id_col).alias("id_a"), "g")
    gb = g.select(F.col(id_col).alias("id_b"), "g")
    shared = (
        ga.join(gb, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- exact-substring (span-level) -------------------------------------------


def duplicate_spans(
    df: DataFrame,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find every ``window``-
    token run that also occurs in ANOTHER document, and merge overlapping/
    adjacent runs into maximal spans — the spans a pipeline would cut out
    of the text (rather than dropping whole near-identical documents).

    Emits (id, span_start, span_end, n_windows): 1-based inclusive token
    positions of each maximal duplicated span.

    Plan shape: one generator producing the rolling word-grams, ONE
    shuffle on the gram to find cross-document repeats (partial-aggregated
    countDistinct), a join of occurrences against that (much smaller)
    repeated-gram set — AQE broadcasts it when it fits — and a per-doc
    window for the gaps-and-islands merge whose state is bounded by
    windows-per-doc, never the corpus.  At 100 TB the gram string riding
    the first shuffle can be replaced by ``poly_hash(gram)`` (64-bit) at
    the cost of collision false-positives; strings are kept here so the
    oracle comparison is exact.
    """
    from pyspark.sql import Window as W

    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (window - 1)),
        lambda i: F.array_join(F.slice(toks, i, window), "§"),
    )
    g = (
        df.withColumn("_toks", TH.tokens(F.col(text_col)))
        .filter(F.size(toks) >= window)
        .select(
            id_col, F.posexplode(grams).alias("_p0", "gram")
        )
        .select(id_col, (F.col("_p0") + 1).alias("pos"), "gram")
    )
    repeated = (
        g.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("gram")
    )
    occ = g.join(repeated, "gram").select(
        id_col, "pos", (F.col("pos") + (window - 1)).alias("_end")
    )
    w_ord = W.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max("_end").over(
        w_ord.rowsBetween(W.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1), 1
    ).otherwise(0)
    islands = occ.withColumn(
        "_island",
        F.sum(brk).over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("_end").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("_island")
    )
