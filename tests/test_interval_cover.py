"""The one sorted-interval zone-map cover (no Spark).

``ParquetWarehouse._interval_cover`` splits a zone map's files into
(overlapping, disjoint) for per-column interval lists; range reads, key
covers and CDC merges all prune through it. Pins:

- it returns exactly the split of the per-file × per-interval loop it
  replaced (kept below as the reference) on random bands and intervals
  over ints, mixed ints and floats, strings and ISO dates, with
  all-NULL bands, unbounded (``None``) range ends and NaN;
- it never misses a file that holds a point (NaN included);
- a 10^4-file × 10^4-point cover runs in well under a second.
"""

from __future__ import annotations

import datetime as dt
import math
import random
import time

import pytest

from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse

NAN = float("nan")
stat = ParquetWarehouse._zonemap_stat


def _reference(files, col, subranges, extra_ranges=None):
    """The former per-file × per-sub-range loop (O(files × intervals))."""
    subs = [(stat(lo), stat(hi)) for lo, hi in subranges]
    norm_extra = {
        c: (stat(b[0]), stat(b[1])) for c, b in (extra_ranges or {}).items()
    }
    overlapping, disjoint = [], []
    for rel, stats in files.items():
        mn, mx = stats[col]
        ok = mn is not None and any(
            not ((nhi is not None and mn > nhi) or (nlo is not None and mx < nlo))
            for nlo, nhi in subs
        )
        if ok:
            for c, (nlo, nhi) in norm_extra.items():
                cmn, cmx = stats[c]
                if cmn is None or (
                    (nhi is not None and cmn > nhi)
                    or (nlo is not None and cmx < nlo)
                ):
                    ok = False
                    break
        (overlapping if ok else disjoint).append(rel)
    return overlapping, disjoint


def _cover(files, col, subranges, extra_ranges=None):
    return ParquetWarehouse._interval_cover(
        files,
        {col: subranges, **{c: [r] for c, r in (extra_ranges or {}).items()}},
    )


def _ints(rng):
    return rng.randint(-50, 50)


def _mixed(rng):
    v = rng.randint(-50, 50)
    return v + rng.choice([0, 0.5, -0.25]) if rng.random() < 0.5 else v


def _strings(rng):
    return "".join(rng.choice("abcde") for _ in range(rng.randint(0, 3)))


_DAY0 = dt.date(2024, 1, 1)


def _dates(rng):
    return _DAY0 + dt.timedelta(days=rng.randint(0, 60))


def _band(rng, gen, as_stored):
    a, b = sorted((gen(rng), gen(rng)), key=stat)
    return [stat(a), stat(b)] if as_stored else [a, b]


def _files(rng, gen, n, cols, nulls=True):
    out = {}
    for i in range(n):
        out[f"f{i}.parquet"] = {
            c: [None, None] if nulls and rng.random() < 0.1
            else _band(rng, gen, True)
            for c in cols
        }
    return out


def _interval(rng, gen, unbounded=True):
    if rng.random() < 0.5:  # a point
        v = gen(rng)
        return (v, v)
    lo, hi = sorted((gen(rng), gen(rng)), key=stat)
    if unbounded and rng.random() < 0.15:
        lo = None
    if unbounded and rng.random() < 0.15:
        hi = None
    return (lo, hi)


@pytest.mark.parametrize("gen", [_ints, _mixed, _strings, _dates])
def test_cover_equals_the_reference_split(gen):
    rng = random.Random(gen.__name__)
    for _ in range(300):
        files = _files(rng, gen, rng.randint(0, 30), ["a", "b"])
        subs = [_interval(rng, gen) for _ in range(rng.randint(0, 12))]
        extra = {"b": _interval(rng, gen)} if rng.random() < 0.5 else {}
        assert _cover(files, "a", subs, extra) == _reference(
            files, "a", subs, extra
        )


def test_all_null_bands_stay_disjoint():
    files = {"n.parquet": {"a": [None, None]}, "v.parquet": {"a": [1, 5]}}
    for ivs in ([(None, None)], [(NAN, NAN)], [(3, 3)], [(None, 9)]):
        assert _cover(files, "a", ivs) == (["v.parquet"], ["n.parquet"])
    assert _cover(files, "a", []) == ([], ["n.parquet", "v.parquet"])


def _nan_value(rng):
    return NAN if rng.random() < 0.15 else float(rng.randint(-20, 20))


def _spark_band(values):
    """min/max as Spark computes them: NULLs skipped, NaN above all."""
    vals = [v for v in values if v is not None]
    if not vals:
        return [None, None]
    key = lambda v: (math.isnan(v), v if not math.isnan(v) else 0)  # noqa: E731
    return [min(vals, key=key), max(vals, key=key)]


def _holds(values, p):
    return any(
        v is not None and (v == p or (math.isnan(v) and math.isnan(p)))
        for v in values
    )


def test_nan_bands_and_points_never_miss():
    rng = random.Random(7)
    for _ in range(300):
        content = {
            f"f{i}.parquet": [
                None if rng.random() < 0.1 else _nan_value(rng)
                for _ in range(rng.randint(1, 6))
            ]
            for i in range(rng.randint(1, 20))
        }
        files = {rel: {"a": _spark_band(vs)} for rel, vs in content.items()}
        points = [_nan_value(rng) for _ in range(rng.randint(1, 8))]
        ivs = [(p, p) for p in points]
        overlap, disjoint = _cover(files, "a", ivs)
        assert (overlap, disjoint) == _reference(files, "a", ivs)
        for rel in disjoint:
            assert not any(_holds(content[rel], p) for p in points), rel


def test_point_cover_scales_to_ten_thousand_files_and_keys():
    rng = random.Random(3)
    files = {}
    for i in range(10_000):
        lo = i * 100 + rng.randint(0, 40)
        files[f"f{i:05d}.parquet"] = {"a": [lo, lo + rng.randint(0, 120)]}
    points = [(k, k) for k in rng.sample(range(1_000_000), 10_000)]
    t0 = time.process_time()
    overlap, disjoint = _cover(files, "a", points)
    assert time.process_time() - t0 < 1.0
    assert len(overlap) + len(disjoint) == 10_000
    # spot-check against the reference on a slice of the files
    some = dict(list(files.items())[:200])
    assert _cover(some, "a", points) == _reference(some, "a", points)
