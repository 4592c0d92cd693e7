"""Trainable character-n-gram language identifier — the learned tier
above the stopword-argmax heuristic ``functions.texthash.lang_id``.

This is the classic public pattern (Cavnar & Trenkle 1994 n-gram
profiles; langid.py / fastText's char-n-gram features): multinomial
Naive Bayes over character trigrams with add-one smoothing, trained
from any labeled (text, lang) relation. The heuristic tier needs a
hand-curated stopword list per language; this one learns its profile
from data, covers any label set, and returns calibrated log-odds
margins.

Spark-first shape — training AND scoring are pure DataFrame ops, no
Python in either hot path:

- **Train**: one explode of the labeled corpus into (lang, trigram)
  counts (map-side partial agg), a per-lang top-V cut (window over the
  vocabulary-sized count relation — the langid.py profile truncation,
  which also bounds the model size independently of corpus size), and
  one vocabulary-sized collect. The model is a plain dict, like the PQ
  codebooks: a pure function of the corpus, serializable, versionable.
- **Score**: docs explode to trigram occurrences; an equi-join against
  the BROADCAST model relation (carrying ``logp - floor`` precomputed
  driver-side — the model is a bounded dict, so no in-plan langs join)
  accumulates the matched term per (doc, lang) with map-side combine
  — the shuffle holds at most n_langs rows per doc, never the trigram
  stream; the unseen-trigram mass folds in analytically as
  ``n_trigrams * floor_lang``, where ``n_trigrams`` is the PROJECTION
  ``greatest(length(text) - n + 1, 0)`` (no second pass over the
  corpus); argmax + runner-up margin come from sorting the bounded
  per-doc score array (``array_sort`` over a langs-literal transform),
  not a window. Everything is whole-stage-codegen expressions; scoring
  a 100 TB corpus is one explode + one broadcast join + two doc-keyed
  partial-agg shuffles whose payload is n_langs-bounded per doc.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame

UND = "und"
# fixed-point log-prob scale (the q48/q88 LP_SCALE discipline): log-probs
# quantize to integer micro-units at TRAIN time, so every scoring sum is
# exact integer arithmetic — partition-order-independent, and restatable
# in SQL without exposing double-summation order
LM_SCALE = 1_000_000


def char_ngrams(col, n: int = 3):
    """All length-n character substrings of a string column (JVM
    expressions: one sequence + transform, no UDF). The CASE guard
    matters: Spark's ``sequence(1, 0)`` DESCENDS ([1, 0]) rather than
    returning empty, which would fabricate n-grams for short strings.
    The identifier is backtick-quoted: a caller's text column named
    with spaces/dots/reserved words must bind to the column, not break
    the parse (r17 advisor finding)."""
    if "`" in col:
        raise ValueError(f"column name {col!r} contains a backtick")
    q = f"`{col}`"
    return F.expr(
        f"CASE WHEN length({q}) >= {n} THEN "
        f"transform(sequence(1, length({q}) - {n - 1}), "
        f"i -> substring({q}, i, {n})) "
        f"ELSE array() END"
    )


def _doc_tri_counts(
    df: DataFrame, id_cols: list[str], text_col: str, n: int
) -> DataFrame:
    return (
        df.select(*id_cols, F.explode(char_ngrams(text_col, n)).alias("tri"))
        .groupBy(*id_cols, "tri")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_lang_model(
    labeled: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    n: int = 3,
    top_per_lang: int = 2000,
) -> dict:
    """Fit the NB trigram model; returns a plain dict
    ``{"n", "langs": {lang: {"prior", "floor", "total"}},
    "table": [(tri, lang, logp), ...], "vocab_size"}``.

    ``top_per_lang`` truncates each language's profile to its most
    frequent trigrams (ties broken by trigram for determinism) — the
    model stays bounded regardless of corpus size, and truncated mass
    falls into the smoothing floor like any unseen trigram. All
    log-probs use add-one smoothing over the UNION vocabulary, so
    scores are comparable across languages; every log-prob quantizes
    to integer micro-units (LM_SCALE) at train time so downstream
    scoring sums are EXACT — deterministic under any partitioning.
    """
    tri = _doc_tri_counts(labeled, [lang_col], text_col, n).select(
        F.col(lang_col).alias("lang"), "tri", "cnt"
    )
    # per-lang profile truncation: vocabulary-sized window, not corpus-
    # sized. kept feeds THREE actions below (vocab count, totals,
    # collect) — localCheckpoint pins the bounded post-cut relation so
    # the corpus explode + window run exactly once.
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tri"))
    kept = (
        tri.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_per_lang)
        .drop("_rn")
        .localCheckpoint()
    )
    vocab_size = kept.select("tri").distinct().count()
    doc_counts = (
        labeled.groupBy(lang_col)
        .agg(F.count(F.lit(1)).alias("docs"))
        .collect()
    )
    total_docs = sum(r["docs"] for r in doc_counts)
    totals = {
        r["lang"]: r["tot"]
        for r in kept.groupBy("lang").agg(F.sum("cnt").alias("tot")).collect()
    }
    def _micro(x: float) -> int:
        return int(math.floor(x * LM_SCALE + 0.5))

    langs = {}
    for r in doc_counts:
        lg = r[lang_col]
        tot = int(totals.get(lg, 0))
        langs[lg] = {
            "prior": _micro(math.log(r["docs"] / total_docs)),
            "floor": _micro(math.log(1.0 / (tot + vocab_size))),
            "total": tot,
        }
    table = [
        (
            r["tri"],
            r["lang"],
            _micro(
                math.log(
                    (r["cnt"] + 1.0)
                    / (langs[r["lang"]]["total"] + vocab_size)
                )
            ),
        )
        for r in kept.collect()
    ]
    return {"n": n, "langs": langs, "table": table, "vocab_size": vocab_size}


def classify_lang(
    df: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, lang_pred, margin): argmax language per document plus the
    log-odds margin over the runner-up (0.0 when only one language is
    modeled). Documents shorter than the n-gram width predict ``und``
    with margin NULL. Ties break lexicographically, and every score is
    an EXACT integer sum of micro-unit log-probs — the classification
    is deterministic under any partitioning (no double-summation
    order), and restatable in SQL for the driver oracle.

    Plan shape (the 100 TB scoring pass): the trigram stream is never
    shuffled — the broadcast model join filters it to modeled trigrams
    and the (doc, lang) partial agg combines map-side to at most
    n_langs rows per doc before the exchange; the total-trigram count
    is the projection ``greatest(length - n + 1, 0)`` (no second corpus
    pass, no checkpoint); argmax + margin sort the n_langs-bounded
    per-doc score array instead of running a corpus-wide window."""
    spark = df.sparkSession
    n = int(model["n"])

    # (logp - floor) folds in driver-side: the model dict is bounded
    # (top-V per lang), so the scoring plan needs no langs join at all.
    # The vocabulary-sized relation ships to the JVM ONCE per (model,
    # session) — an ingest stream scoring every micro-batch was
    # re-paying the Arrow conversion and JVM transfer per sync (relcache,
    # guide §4.5: frozen side inputs initialize once).
    def _build() -> DataFrame:
        floors = {lg: p["floor"] for lg, p in model["langs"].items()}
        return local_frame(
            spark,
            [(tri, lg, logp - floors[lg]) for tri, lg, logp in model["table"]],
            "tri string, lang string, delta long",
        )

    from ..functions.relcache import frozen_relation

    mdl = F.broadcast(frozen_relation(spark, model, "nb_delta", _build))
    # bounded literal: one struct per modeled language, lex-sorted
    langs_arr = F.array(
        *[
            F.struct(
                F.lit(lg).alias("lang"),
                F.lit(p["prior"]).cast("long").alias("prior"),
                F.lit(p["floor"]).cast("long").alias("floor"),
            )
            for lg, p in sorted(model["langs"].items())
        ]
    )
    # matched mass per (doc, lang): sum of (logp - floor) over every
    # matched trigram OCCURRENCE == sum(cnt * (logp - floor)) — exact
    # integer arithmetic, so no per-(doc, tri) pre-count is needed and
    # the only corpus-sized shuffle payload is n_langs rows per doc
    matched = (
        df.select(id_col, F.explode(char_ngrams(text_col, n)).alias("tri"))
        .join(mdl, "tri")
        .groupBy(id_col, "lang")
        .agg(F.sum("delta").alias("_m"))
    )
    per_doc = matched.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("lang", "_m"))
        ).alias("_mm")
    )
    docs = df.select(
        id_col,
        F.when(
            F.length(text_col) >= n, F.length(text_col) - (n - 1)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("_n"),
    )
    # negated-score structs sort ascending = score desc, lang asc —
    # the exact window tie rule, on an n_langs-bounded array
    scores = F.array_sort(
        F.transform(
            langs_arr,
            lambda l: F.struct(
                (
                    -(
                        l["prior"]
                        + F.col("_n") * l["floor"]
                        + F.coalesce(
                            # try_element_at: NULL (not an ANSI error)
                            # for langs with no matched trigram
                            F.try_element_at(F.col("_mm"), l["lang"]),
                            F.lit(0).cast("long"),
                        )
                    )
                ).alias("neg"),
                l["lang"].alias("lang"),
            ),
        )
    )
    return (
        docs.join(per_doc, id_col, "left")
        .withColumn("_sc", scores)
        .select(
            id_col,
            F.when(F.col("_n") == 0, F.lit(UND))
            .otherwise(F.get(F.col("_sc"), 0)["lang"])
            .alias("lang_pred"),
            F.when(
                F.col("_n") > 0,
                F.coalesce(
                    F.get(F.col("_sc"), 1)["neg"]
                    - F.get(F.col("_sc"), 0)["neg"],
                    F.lit(0).cast("long"),
                ).cast("double")
                / LM_SCALE,
            ).alias("margin"),
        )
    )
