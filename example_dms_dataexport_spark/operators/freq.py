"""Provably-exact heavy hitters via Misra-Gries candidate pruning.

The naive exact top-k over a token/item stream shuffles EVERY distinct
item (the long tail is the cost: a 100 TB corpus has billions of
singleton tokens that all cross the wire just to lose). The classic
two-pass fix:

1. **Candidate pass** — each partition runs a Misra-Gries summary of
   capacity ``c`` over its local items (O(c) memory, one pass, no
   shuffle). MG guarantees any item with local count > n_p/(c+1)
   survives locally, so by pigeonhole any item with GLOBAL count >
   N/(c+1) survives in at least one partition. The union of per-
   partition survivors is the candidate set — tail items never leave
   their partition. The same pass emits per-partition item totals, so
   N costs no extra scan.
2. **Recount pass** — exact counts for candidates only (a semi-join-
   pruned aggregation), then top-k.

The result is EXACT, not approximate, whenever the k-th candidate's
exact count exceeds the MG threshold N/(c+1) — checked at runtime; if
the data is so flat the guarantee can't be certified, fall back to the
plain exact aggregation rather than return an unproven answer. That
certificate is what lets the oracle pin the output hash-for-hash.

The MG state is a pandas Series living across Arrow batches of one
partition (mapInPandas receives an iterator per partition), and the
decrement step is the vectorized variant: when the summary exceeds
capacity, subtract the (size-capacity)-th smallest count from EVERY
entry and drop the non-positive ones — each such event removes >=
(capacity+1) x decrement of stream mass, so the cumulative decrement
(= the max undercount, = the max count of any dropped item) is still
bounded by n_p/(capacity+1), the classic MG guarantee, with no
per-item Python loop.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..session import local_frame

_SUMMARY_SCHEMA = StructType(
    [
        StructField("item", StringType()),  # NULL on the totals row
        StructField("total", LongType()),
    ]
)


def _mg_summaries(df: DataFrame, item_col: str, capacity: int) -> DataFrame:
    """One Misra-Gries summary per partition: surviving candidate items
    (total=0) plus one item=NULL row carrying the partition's item
    count."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        counters = pd.Series(dtype="int64")
        total = 0
        for pdf in batches:
            vc = pdf[item_col].value_counts()
            total += int(vc.sum())
            counters = counters.add(vc, fill_value=0)
            excess = len(counters) - capacity
            if excess > 0:
                vals = counters.to_numpy()
                t = np.partition(vals, excess - 1)[excess - 1]
                counters = counters[counters > t] - t
        yield pd.DataFrame(
            {
                "item": [*counters.index.astype(str), None],
                "total": [0] * len(counters) + [total],
            }
        )

    return df.select(F.col(item_col).alias(item_col)).mapInPandas(
        run, _SUMMARY_SCHEMA
    )


def heavy_hitters(
    df: DataFrame, item_col: str, k: int, capacity: int = 4096
) -> DataFrame:
    """Exact (item, n) top-``k`` by count, tail-pruned via Misra-Gries.

    Ties broken by item ascending (deterministic). Raises ValueError for
    k > capacity; falls back to the plain exact aggregation when the
    top-k certificate (k-th count > N/(capacity+1)) does not hold —
    correctness never depends on the sketch. Two scans of the item
    stream (candidates+totals, then the pruned recount); the only
    driver fetches are the k result rows and the 1-row total.
    """
    if k <= 0 or capacity < k:
        raise ValueError("need 0 < k <= capacity")

    items = df.select(F.col(item_col).cast("string").alias("item"))

    def topk(counted: DataFrame) -> DataFrame:
        return counted.orderBy(F.desc("n"), F.asc("item")).limit(k)

    # summaries are small (<= capacity+1 rows per partition); persist so
    # the totals aggregate and the candidate join don't re-run the scan,
    # and release before returning — both consumers are eager below
    summary = _mg_summaries(items, "item", capacity).persist()
    try:
        total = summary.agg(F.sum("total").alias("n")).collect()[0]["n"] or 0
        cand = summary.filter(F.col("item").isNotNull()).select("item").distinct()
        counted = (
            items.join(cand, "item", "left_semi")  # tail never reaches the agg
            .groupBy("item")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        got = topk(counted).collect()  # bounded: k rows
    finally:
        summary.unpersist()

    if len(got) == k and got[-1]["n"] > total / (capacity + 1):
        # certified exact: every non-candidate's count <= N/(capacity+1)
        # < the k-th candidate's count, so no non-candidate can displace
        # the collected top-k
        return local_frame(df.sparkSession, got, "item string, n long")
    # certificate failed (tiny or pathologically flat data): exact path
    return topk(items.groupBy("item").agg(F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable approximate frequency state
# ---------------------------------------------------------------------------
# The frequency analogue of operators.sketches' HLL/histogram states:
# Misra-Gries above answers "what are the top items" exactly but its state
# is not group-mergeable (two MG summaries can't be combined without loss
# of the certificate); a count-min sketch is a depth x width counter
# matrix that merges by cell-wise SUM — storable next to a rollup,
# foldable batch-by-batch, and queryable for ANY item later, with the
# classic one-sided guarantee: estimate >= true count always, and
# P(estimate > true + e*N/width) <= (1/e)^depth per lookup (Markov bound
# per hash row, independent rows via distinct hash salts).
#
# Representation is SPARSE relational state: (d, slot, n) rows — at most
# depth*width rows regardless of data size — built with one scan + one
# shuffle (explode depth slots per item, map-side partial count). Hashing
# is JVM-side xxhash64(item, d): the depth salt rides as a hash input, so
# no Python and no UDF anywhere in the sketch path.

CMS_DEPTH = 4
CMS_WIDTH = 4096


def cms_sketch(
    df: DataFrame,
    item_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(d, slot, n) sparse count-min state over ``item_col`` — one scan,
    one shuffle on the (d, slot) pair (at most depth*width groups, with
    map-side partial aggregation doing the heavy lifting)."""
    if depth <= 0 or width <= 0:
        raise ValueError("need positive depth and width")
    slot_arr = F.array(
        *[
            F.pmod(F.xxhash64(F.col(item_col), F.lit(d)), F.lit(width))
            for d in range(depth)
        ]
    )
    return (
        df.select(F.posexplode(slot_arr).alias("d", "slot"))
        .groupBy("d", "slot")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_cms(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two CMS states cell-wise (new batch into stored state) —
    a sketch-sized union + sum, the fact table is never consulted."""
    return a.unionByName(b).groupBy("d", "slot").agg(F.sum("n").alias("n"))


def cms_lookup(
    state: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(item_col..., est_n) — the count-min estimate for each probe item:
    min over the depth rows of the item's counter cells (0 when a cell
    was never touched). The state is at most depth*width rows, so the
    probe join broadcasts it; per probe item this is depth joined rows
    reduced by MIN — never a fact-table scan."""
    slot_arr = F.array(
        *[
            F.pmod(F.xxhash64(F.col(item_col), F.lit(d)), F.lit(width))
            for d in range(depth)
        ]
    )
    probes = items.select(
        item_col, F.posexplode(slot_arr).alias("d", "slot")
    )
    return (
        probes.join(F.broadcast(state), ["d", "slot"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est_n"))
    )
