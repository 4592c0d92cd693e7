"""Frozen side-input relation cache (guide §4.5: heavyweight init once).

A frozen model (NB language profiles, unigram LM) scores every
micro-batch of an ingest stream. Its vocabulary-sized model table is a
JVM local relation (``session.local_frame``), so scoring it starts no
Python worker, but building it converts the whole table to Arrow and
ships it to the JVM — fixed overhead that a per-batch rebuild would
re-pay at every minute-grain sync (the model is immutable for the
stream's lifetime by the admission contract). This cache keys the built
relation on the exact (model object, SparkSession) pair, so each frozen
model converts and ships once per session and every later scoring call
reuses the same local relation.

This is NOT result caching: entries are side-input relations (model
parameters), never derived query output, and an entry is only reused
while the caller still holds the SAME model object and session — a
retrained model is a new dict and never hits. Entries keep a strong
reference to the owner (so ``id(owner)`` cannot be recycled while the
entry lives) and the cache is LRU-bounded, so at most ``_MAX`` model
relations stay pinned.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame

# (id(owner), tag) -> (owner, spark, df); owner held strongly so its id
# stays valid for the entry's lifetime
_CACHE: OrderedDict[tuple[int, str], tuple[object, object, DataFrame]] = (
    OrderedDict()
)
_MAX = 8


def frozen_relation(
    spark, owner: object, tag: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The DataFrame ``build()`` produces, created once per
    (``owner``, ``spark``) pair and reused afterwards. ``owner`` is the
    frozen model object the relation is derived from; ``tag``
    disambiguates multiple relations per owner."""
    key = (id(owner), tag)
    ent = _CACHE.get(key)
    if ent is not None and ent[0] is owner and ent[1] is spark:
        _CACHE.move_to_end(key)
        return ent[2]
    df = build()
    _CACHE[key] = (owner, spark, df)
    _CACHE.move_to_end(key)
    while len(_CACHE) > _MAX:
        _CACHE.popitem(last=False)
    return df
