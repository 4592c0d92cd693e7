"""Text analysis over the ``documents`` table: token stats, language ID,
quality scoring, and rolling-hash fingerprints.

These are the per-document filters a pretraining-data pipeline runs before
dedup: everything is a single narrow projection over the scan — no shuffle,
no UDFs — so at 100 TB it runs at parquet-scan speed inside whole-stage
codegen with column pruning (only ``text`` + ids are read).

Each feature has a DuckDB twin in ``functions.texthash`` (sql_* generators)
so the correctness oracles hash-compare bit-identical values.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..partitioning import spread
from ..session import local_frame

# Per-token log10-probabilities are rounded to this fixed-point scale
# BEFORE the per-document sum: int64 addition is order-independent, so the
# (shuffle-order-nondeterministic) aggregation stays bit-identical across
# engines — doubles summed in different orders would not.
LP_SCALE = 1_000_000


def text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append token/quality/language/fingerprint feature columns.

    The token array is materialized ONCE in its own projection: the
    feature expressions reference it many times, and Catalyst's
    CollapseProject keeps multiply-referenced non-trivial columns
    materialized instead of re-inlining the tokenizer into every
    (interpreted) higher-order lambda.
    """
    c = F.col(text_col)
    toks = F.col("_toks")
    return (
        spread(df).withColumn("_toks", TH.tokens(c))
        .withColumns(
            {
                "n_tokens": F.size(toks),
                "n_bpe_tokens": TH.bpe_token_count(c),
                "n_uniq_tokens": F.size(F.array_distinct(toks)),
                "avg_token_len": TH.avg_token_len(toks),
                "lang_pred": TH.lang_id(toks),
                "quality": TH.quality_score(toks),
                "fingerprint": TH.fingerprint(c),
            }
        )
        .drop("_toks")
    )


# Gopher-style repetition gates (Rae et al. 2021 table A1 uses 0.20
# for the duplicate-2-gram and top-2-gram fractions); integer percent
# thresholds so the keep decision is cross-multiplied BIGINT arithmetic
# on both engines — no float fraction ever materializes.
REP_DUP_MAX_PCT = 20
REP_TOP_MAX_PCT = 20


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    dup_max_pct: int = REP_DUP_MAX_PCT,
    top_max_pct: int = REP_TOP_MAX_PCT,
) -> DataFrame:
    """Gopher-style INTRA-document repetition filter: per document, the
    word-2-gram duplication profile — total 2-grams, occurrences beyond
    each gram's first (``n_dup_2grams``), the most frequent gram's count
    (``top_2gram_n``) — and an integer-exact ``keep`` gate (reject when
    duplicates exceed ``dup_max_pct``% of grams or one gram alone
    exceeds ``top_max_pct``%). Repetition is THE cheap generated/boiler
    text signal the line-level dedup (q47) cannot see: it fires on
    repetition WITHIN one document, cross-document frequency stays 1.

    One explode + two aggregations (a (doc, gram) exchange with map-side
    partial counts — the explode's volume never crosses the wire raw —
    then a doc_id exchange over one row per distinct gram); documents
    with <2 tokens keep trivially (zero grams). Tokenization is the
    shared ``texthash.tokens`` so the DuckDB oracle restates it
    exactly."""
    toks = TH.tokens(F.col(text_col))
    grams = F.when(
        F.size("_toks") < 2, F.array().cast("array<string>")
    ).otherwise(
        # guarded: Spark's sequence(1, 0) yields a DESCENDING [1, 0],
        # not an empty array, so a 1-token doc would fabricate grams
        F.expr(
            "transform(sequence(1, size(_toks) - 1), i -> "
            "concat(element_at(_toks, i), ' ', element_at(_toks, i + 1)))"
        )
    )
    base = (
        df.select("doc_id", toks.alias("_toks"))
        .select(
            "doc_id",
            F.size("_toks").cast("long").alias("n_tokens"),
            grams.alias("_grams"),
        )
        # explode_outer keeps <2-token documents as one NULL-gram row
        .select("doc_id", "n_tokens", F.explode_outer("_grams").alias("gram"))
    )
    per_gram = base.groupBy("doc_id", "n_tokens", "gram").agg(
        F.count("*").alias("c")
    )
    real = F.col("gram").isNotNull()
    stats = per_gram.groupBy("doc_id", "n_tokens").agg(
        F.sum(F.when(real, F.col("c")).otherwise(0)).alias("n_2grams"),
        F.count(F.when(real, True)).alias("n_distinct"),
        F.max(F.when(real, F.col("c")).otherwise(0)).alias("top_2gram_n"),
    )
    dup = F.col("n_2grams") - F.col("n_distinct")
    return stats.select(
        "doc_id",
        "n_tokens",
        F.col("n_2grams").cast("long").alias("n_2grams"),
        dup.cast("long").alias("n_dup_2grams"),
        F.col("top_2gram_n").cast("long").alias("top_2gram_n"),
        (
            (
                (100 * dup <= F.lit(dup_max_pct) * F.col("n_2grams"))
                & (
                    100 * F.col("top_2gram_n")
                    <= F.lit(top_max_pct) * F.col("n_2grams")
                )
            )
            | (F.col("n_2grams") == 0)
        ).alias("keep"),
    )


def quality_lang_gate(
    df: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    lang: str = "en",
) -> DataFrame:
    """The corpus-cleaning entry gate: keep documents at or above
    ``min_quality`` whose predicted language is ``lang``; emits the
    original columns plus ``quality``.

    Computes ONLY the gate features — the token array is materialized
    once and feeds the quality score and language guess; text_features'
    regex-heavy fingerprint/BPE columns are never built.  Shared by the
    q38/q73 pipelines so the gate semantics cannot drift between them.
    """
    return (
        df.withColumn("_toks", TH.tokens(F.col(text_col)))
        .withColumn("quality", TH.quality_score(F.col("_toks")))
        .filter(
            (F.col("quality") >= min_quality)
            & (TH.lang_id(F.col("_toks")) == lang)
        )
        .drop("_toks")
    )


def quality_filter(
    df: DataFrame, text_col: str = "text", min_quality: float = 0.5
) -> DataFrame:
    """Keep documents above a quality threshold (the corpus-cleaning gate)."""
    return (
        df.withColumn("_toks", TH.tokens(F.col(text_col)))
        .filter(TH.quality_score(F.col("_toks")) >= min_quality)
        .drop("_toks")
    )


def pack_chunks(
    chunks: DataFrame,
    budget: int = 256,
    n_shards: int = 8,
    id_col: str = "doc_id",
    chunk_col: str = "chunk_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Assign token chunks to fixed-budget context windows ("packs") —
    the training-batch packing step after ``chunk_tokens``.

    A single global running total would serialize the corpus through one
    task, so packing is SHARDED: each document hashes to one of
    ``n_shards`` streams, and the running token total (and therefore pack
    assignment) is computed per shard — window parallelism = n_shards,
    each shard's state is a running sum, and any shard can be materialized
    independently.  At cluster scale n_shards is the write parallelism of
    the packed dataset (thousands, not 8).

    A chunk belongs to the pack where it STARTS (greedy concat packing:
    packs are budget-sized slices of the shard's concatenated chunk
    stream).  All arithmetic is integer, so results are deterministic and
    engine-exact.  Emits shard, pack_id (within shard) and pack_pos (token
    offset of the chunk inside its pack).
    """
    shard = TH.poly_hash(F.col(id_col).cast("string")) % n_shards
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("shard")
        .orderBy(id_col, chunk_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum(tokens_col).over(w)
    start = (cum - F.col(tokens_col)).alias("_start")
    out = chunks.withColumn("shard", shard).withColumn("_start", start)
    return out.select(
        id_col,
        chunk_col,
        tokens_col,
        "shard",
        F.floor(F.col("_start") / budget).cast("long").alias("pack_id"),
        (F.col("_start") % budget).alias("pack_pos"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` terms per document by TF-IDF — the classic keyword /
    relevance primitive (df here is document frequency over the corpus
    itself).

    Exactness: idf = log10(N/df) is rounded to fixed-point int64 ONCE per
    vocabulary term; per-doc scores are then tf × idf_scaled — pure
    integer products — so ranking and values are engine-exact (ties break
    on the term string).

    Plan shape (r19): one shuffle to count (doc, term) pairs; the
    document frequency attaches as a WINDOW COUNT over the term
    partition of that same relation (the former ``groupBy(tok)`` +
    join-back re-executed the corpus explode+aggregate subtree per
    reference — three tokenize passes where one suffices), one per-doc
    window for the top-k.  The corpus-size scalar N rides a 1-row
    broadcast join over a single narrow id-column scan, not a driver
    collect.
    """
    from pyspark.sql import Window as W

    tf = (
        df.select(
            F.col(id_col), F.explode(TH.tokens(F.col(text_col))).alias("tok")
        )
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = df.select(F.col(id_col)).agg(F.count(F.lit(1)).alias("_n"))
    # df(tok) == count of (doc, tok) rows per tok: a window count over
    # the tf relation — identical integers to the aggregate+inner-join,
    # with no second derivation of tf
    scored = (
        tf.withColumn("_df", F.count(F.lit(1)).over(W.partitionBy("tok")))
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "tok",
            "tf",
            (
                F.col("tf")
                * F.floor(
                    F.log10(F.col("_n").cast("double") / F.col("_df"))
                    * LP_SCALE
                    + F.lit(0.5)
                ).cast("long")
            ).alias("_score_scaled"),
        )
    )
    w = W.partitionBy(id_col).orderBy(
        F.desc("_score_scaled"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "rank",
            "tok",
            "tf",
            (
                F.floor(
                    F.col("_score_scaled").cast("double") / LP_SCALE * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("tfidf"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 relevance of every document against a fixed ``terms`` set —
    the retrieval/quality-signal scorer (Robertson/Sparck Jones; the
    ranking function behind Lucene/Elasticsearch ``BM25Similarity``).

    Scale shape: for a FIXED small term set nothing explodes — per-doc
    term frequencies and document length are higher-order array
    expressions in ONE narrow projection over the scan, the corpus
    statistics (N, total length, per-term document frequencies) are a
    single 1-row aggregate broadcast back, and scoring is a second
    stateless projection.  No shuffle wider than one row.

    Exactness: idf = ln(1 + (N - df + 0.5)/(df + 0.5)) is fixed-pointed
    to int64 once per term (absorbing last-ulp ln() disagreement between
    engines); each term's contribution is floored to int64 before the
    (fixed-order) sum, so totals are engine-exact.  Documents matching
    none of the terms are excluded.
    """
    toks = TH.tokens(F.col(text_col))

    def _tf(word: str):
        # NB: a closure, not a default-arg lambda — F.filter treats a
        # two-parameter lambda as (element, index)
        return F.size(F.filter(toks, lambda t: t == F.lit(word)))

    # spread: a small corpus arrives as ONE scan split and the
    # tokenizing projection would run single-task (§2.5 input skew);
    # no-op at scale where the scan already has >= cores splits. The
    # LAZY localCheckpoint runs that projection ONCE: both consumers
    # (the stats aggregate and the scoring projection) referenced proj,
    # and each reference re-executed the whole tokenize subtree — the
    # before-plan shows two corpus scans (r20, §2.4; the checkpointed
    # relation is id + a handful of ints, ~1/1000th of the text bytes
    # it replaces re-deriving). Identity transform: values unchanged.
    proj = spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.size(toks).alias("_dl"),
        *[_tf(w).alias(f"_tf{i}") for i, w in enumerate(terms)],
    ).localCheckpoint(eager=False)
    stats = proj.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dl").alias("_sumdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = proj.crossJoin(F.broadcast(stats))
    avgdl = F.col("_sumdl").cast("double") / F.col("_n")
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("_dl") / avgdl
    )

    def idf6(i: int):
        n, d = F.col("_n").cast("double"), F.col(f"_df{i}").cast("double")
        return (
            F.floor(
                F.log((n - d + F.lit(0.5)) / (d + F.lit(0.5)) + F.lit(1.0))
                * F.lit(1_000_000)
                + F.lit(0.5)
            )
        ).cast("long")

    def contrib6(i: int):
        tf = F.col(f"_tf{i}").cast("double")
        return F.floor(
            idf6(i) * tf * F.lit(BM25_K1 + 1.0) / (tf + norm) + F.lit(0.5)
        ).cast("long")

    total6 = reduce(lambda a, b: a + b, [contrib6(i) for i in range(len(terms))])
    matched = reduce(
        lambda a, b: a | b, [F.col(f"_tf{i}") > 0 for i in range(len(terms))]
    )
    return (
        scored.filter(matched)
        .select(
            id_col,
            F.col("_dl").alias("dl"),
            (F.floor(total6 / F.lit(100.0) + F.lit(0.5)) / F.lit(1e4)).alias(
                "bm25"
            ),
        )
    )


def adjacent_pair_counts(
    df: DataFrame, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide adjacent token-pair frequencies, top-``k`` — the
    statistic a BPE tokenizer-training iteration consumes (the next merge
    is argmax over exactly this relation), and the bigram feed for
    collocation/language-model work.

    Plan shape: pairs are built inside the row (zip of the token array
    with its own tail — JVM higher-order functions, no UDF), then ONE
    explode + ONE groupBy shuffle on the pair string; the top-k is a
    global sort of the (vocabulary²-bounded, frequency-truncated)
    aggregate, not of the corpus. Ties break on the pair string so the
    LIMIT is a total order.
    """
    t = TH.tokens(F.col(text_col))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("_toks"), i), F.element_at(F.col("_toks"), i + 1)
        ),
    )
    return (
        df.select(t.alias("_toks"))
        .filter(F.size("_toks") >= 2)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(k)
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean unigram log10-probability under the corpus's own
    unigram model — the KenLM-perplexity proxy CCNet-style pipelines use
    to rank documents (closer to 0 = more typical text; very negative =
    rare-token soup).

    Plan shape: the token stream shuffles ONCE to build the term-frequency
    relation, which is vocabulary-sized — tiny relative to the corpus — so
    the global-total window over it and the join back onto the token
    stream (AQE broadcasts the vocab side) are both cheap; the final
    per-document aggregation is the only other shuffle.  Per-token scores
    are fixed-point int64 (see LP_SCALE), so sums are exact.
    """
    stream = df.select(
        F.col(id_col), F.explode(TH.tokens(F.col(text_col))).alias("tok")
    )
    tf = stream.groupBy("tok").agg(F.count(F.lit(1)).alias("_tf"))
    lp = tf.withColumn(
        "_total", F.sum("_tf").over(Window.partitionBy())
    ).select(
        "tok",
        F.floor(
            F.log10(F.col("_tf").cast("double") / F.col("_total"))
            * LP_SCALE
            + F.lit(0.5)
        )
        .cast("long")
        .alias("_lp"),
    )
    return (
        stream.join(lp, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_lp").alias("_slp"),
        )
        .select(
            id_col,
            "n_tokens",
            (
                F.floor(
                    F.col("_slp").cast("double")
                    / F.col("n_tokens")
                    / LP_SCALE
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("logprob"),
        )
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean bigram log10-probability under the corpus's own
    add-one-smoothed bigram model — the next step up from
    ``unigram_logprob``'s perplexity proxy: fluency, not just vocabulary
    typicality (word-salad documents with common words score well under
    a unigram model but badly here). p(w2|w1) = (c(w1,w2)+1) /
    (c(w1)+V), V = vocabulary size.

    Plan shape mirrors unigram_logprob: the bigram relation shuffles
    once into corpus counts, which are vocabulary²-bounded (in practice
    near-linear in the corpus's DISTINCT bigrams — still tiny next to
    the token stream); the unigram/vocab side is vocabulary-sized; both
    join back onto the per-document bigram stream (AQE broadcasts when
    they fit) and the per-document aggregation is the only other
    shuffle. Per-bigram scores are fixed-point int64 (LP_SCALE) so the
    shuffle-ordered sum is exact. Documents with fewer than two tokens
    have no bigrams and are excluded (same contract as the oracle).
    """
    toks = df.select(F.col(id_col), TH.tokens(F.col(text_col)).alias("_t"))
    big = (
        toks.filter(F.size("_t") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(slice(_t, 1, size(_t) - 1),"
                    " (x, i) -> struct(x AS w1, element_at(_t, i + 2) AS w2))"
                )
            ).alias("_b"),
        )
        .select(id_col, F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))
    )
    uni = (
        df.select(F.explode(TH.tokens(F.col(text_col))).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("_c1"))
        .withColumn("_v", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    model = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_c2"))
        .join(uni, "w1")
        .select(
            "w1",
            "w2",
            F.floor(
                F.log10(
                    (F.col("_c2") + F.lit(1)).cast("double")
                    / (F.col("_c1") + F.col("_v"))
                )
                * LP_SCALE
                + F.lit(0.5)
            )
            .cast("long")
            .alias("_lp"),
        )
    )
    return (
        big.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_lp").alias("_slp"),
        )
        .select(
            id_col,
            "n_bigrams",
            (
                F.floor(
                    F.col("_slp").cast("double")
                    / F.col("n_bigrams")
                    / LP_SCALE
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("logprob"),
        )
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into fixed token-budget chunks — the
    context-window packing step before tokenizer/training ingestion.

    Emits (id, chunk_id, chunk_text, n_tokens): chunk k covers tokens
    [1 + k*stride, 1 + k*stride + chunk_size) with stride =
    chunk_size - overlap; the final chunk may be short, and a chunk is
    only emitted if it contributes at least one token beyond the
    previous chunk's overlap. Zero-token docs emit nothing.

    Plan shape: one generator (posexplode of the start sequence) over a
    narrow projection — no shuffle, no UDF; output rows ~ total_tokens /
    stride, each built by JVM slice/join expressions.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    t = df.select(id_col, TH.tokens(F.col(text_col)).alias("_toks")).filter(
        F.size("_toks") > 0
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("_toks") - overlap, F.lit(1)), F.lit(stride)
    )
    e = t.select(
        id_col, "_toks", F.posexplode(starts).alias("chunk_id", "_start")
    )
    return e.select(
        id_col,
        "chunk_id",
        F.array_join(
            F.slice("_toks", F.col("_start"), F.lit(chunk_size)), " "
        ).alias("chunk_text"),
        F.least(
            F.size("_toks") - F.col("_start") + 1, F.lit(chunk_size)
        ).alias("n_tokens"),
    )


def train_unigram_lm(df: DataFrame, text_col: str = "text") -> dict:
    """Freeze the corpus unigram LM ``unigram_logprob`` derives inline:
    ``{"lp": {token: lp_micro}, "floor": lp_micro, "total": n}`` with
    the SAME fixed-point quantization (LP_SCALE after log10), so
    scoring a frozen model over its own training corpus reproduces
    ``unigram_logprob`` exactly (pinned). The floor is the unseen-token
    score, log10(1/(total+1)) — strictly below any seen token's score —
    which inline scoring never needs (every token is in its own
    corpus) but frozen scoring of NEW text does. Vocabulary-sized, a
    pure function of the corpus: the spec runner's frozen-side-input
    pattern (like the lang/quality models), which is what makes the
    perplexity gate STREAMABLE."""
    stream = df.select(F.explode(TH.tokens(F.col(text_col))).alias("tok"))
    tf = stream.groupBy("tok").agg(F.count(F.lit(1)).alias("_tf"))
    total = stream.count()
    rows = tf.select(
        "tok",
        F.floor(
            F.log10(F.col("_tf").cast("double") / F.lit(float(total)))
            * LP_SCALE
            + F.lit(0.5)
        )
        .cast("long")
        .alias("_lp"),
    ).collect()
    import math as _math

    floor_lp = int(
        _math.floor(_math.log10(1.0 / (total + 1)) * LP_SCALE + 0.5)
    )
    return {
        "lp": {r["tok"]: int(r["_lp"]) for r in rows},
        "floor": floor_lp,
        "total": int(total),
    }


def unigram_logprob_frozen(
    df: DataFrame,
    lm: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``unigram_logprob``'s output contract (id, n_tokens, logprob)
    under a FROZEN model: tokens left-join the broadcast LM relation,
    unseen tokens take the model's floor, and the integer micro-unit
    sums keep the score exact under any partitioning."""
    spark = df.sparkSession
    # vocabulary-sized model relation: built once per (lm, session) and
    # reused across scoring calls — the ingest stream's perplexity gate
    # was re-shipping the whole LM vocabulary to the JVM every
    # micro-batch (relcache, guide §4.5)
    from ..functions.relcache import frozen_relation

    mdl = F.broadcast(
        frozen_relation(
            spark,
            lm,
            "unigram_lp",
            lambda: local_frame(
                spark, list(lm["lp"].items()), "tok string, _lp long"
            ),
        )
    )
    stream = df.select(
        F.col(id_col), F.explode(TH.tokens(F.col(text_col))).alias("tok")
    )
    return (
        stream.join(mdl, "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.coalesce(F.col("_lp"), F.lit(int(lm["floor"])))
            ).alias("_slp"),
        )
        .select(
            id_col,
            "n_tokens",
            (
                F.floor(
                    F.col("_slp").cast("double")
                    / F.col("n_tokens")
                    / LP_SCALE
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("logprob"),
        )
    )
