"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at a scale factor and compares against
``oracle_sql()`` via DuckDB: row count, sorted column names, and an
order-insensitive value comparison (floats rounded to 6 significant
decimals before comparing).  Usage:

    python tools/check_oracle.py [--exact] [--staged] sf_dir [query ...]

``--staged`` also includes ``registry.STAGED`` faces (written and
oracle-verified this round, but held out of the driver window until a
rotation slot opens).  Unknown query-name filters are an error: a typo'd
name must not let the gate report ALL OK having tested nothing.

``--exact`` compares dtype-faithful renderings with NO rounding — the
local equivalent of the driver's value-hash strictness.  The default
6-decimal rounding is looser than the driver (that looseness is how the
q18 DECIMAL drift slipped through the r6 local gate); run ``--exact``
for any query whose schema carries DECIMAL/float columns.  Exact mode
also flags ``decimal.Decimal`` cells on either engine: DECIMAL renders
differently across engines at the driver's hash layer and must never
appear in driver-facing output (cast to double/string in BOTH the Spark
query and the oracle's final SELECT).
"""

from __future__ import annotations

import argparse
import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from example_dms_dataexport_spark.session import get_spark
from example_dms_dataexport_spark.tables import TABLE_NAMES


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


_SAW_DECIMAL = False


def norm_cell_exact(v):
    """Dtype-faithful rendering: full-precision repr tagged with a type
    class, so float-vs-Decimal / float-vs-int drift that 6-decimal
    rounding hides shows up as a mismatch (the driver's hash behaves
    like this)."""
    global _SAW_DECIMAL
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, decimal.Decimal):
        _SAW_DECIMAL = True
        return ("dec", str(v))
    if isinstance(v, int):
        return ("i", str(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell_exact(x) for x in v)
    return v


def fragile_oracle_types(con, sql):
    """Return [(col, type)] for oracle output columns whose DuckDB type
    renders as decimal128 at the driver's Arrow/hash layer even though
    ``fetchall()`` converts them to plain Python ints — the q133 class
    (DuckDB ``SUM(BIGINT)`` returns HUGEINT; Spark emits int64, so the
    driver hash-mismatches while the local fetchall() compare passes).
    ``DESCRIBE <query>`` binds without executing, so this is free."""
    try:
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
    except Exception:  # noqa: BLE001 — DESCRIBE quirk: fall back silently
        return []
    bad = ("HUGEINT", "UHUGEINT", "DECIMAL")
    return [
        (c, t) for c, t, *_ in desc if any(b in t.upper() for b in bad)
    ]


def norm_rows(cols, rows, cell=norm_cell):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(cell(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def parse_args(argv):
    """The command line, checked before any Spark session starts:
    ``--help`` prints the usage, and an unknown flag, a missing
    ``sf_dir`` or one that is not a directory exit 2."""
    p = argparse.ArgumentParser(
        prog="check_oracle.py", description=__doc__.split("\n\n")[0]
    )
    p.add_argument(
        "--exact", action="store_true",
        help="compare dtype-faithful renderings with no rounding",
    )
    p.add_argument(
        "--staged", action="store_true",
        help="also check registry.STAGED faces",
    )
    p.add_argument("sf_dir", help="scale-factor dir of <table>.parquet files")
    p.add_argument("query", nargs="*", help="query names (default: all)")
    args = p.parse_intermixed_args(argv)
    if not os.path.isdir(args.sf_dir):
        p.error(f"sf_dir {args.sf_dir!r} is not a directory")
    return args


def main(argv=None):
    global _SAW_DECIMAL
    args = parse_args(sys.argv[1:] if argv is None else argv)
    exact, staged, sf_dir = args.exact, args.staged, args.sf_dir
    cell = norm_cell_exact if exact else norm_cell
    only = set(args.query)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if staged:
        from example_dms_dataexport_spark.registry import STAGED

        for name, (fn, oracle) in STAGED.items():
            qs[name] = fn
            if oracle is not None:
                oracles[name] = oracle
    unknown = sorted(only - set(qs))
    if unknown:
        print(
            f"usage error: unknown query name filter(s): {unknown}\n"
            "usage: check_oracle.py [--exact] [--staged] sf_dir "
            "[query ...]\n"
            "  (staged faces need --staged; names must match the "
            "@query/@staged_query registration exactly — "
            "try: python -c \"from example_dms_dataexport_spark."
            "registry import load_all, STAGED; load_all(); "
            "print(sorted(STAGED))\")",
            file=sys.stderr,
        )
        sys.exit(1)
    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        _SAW_DECIMAL = False
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {e!r}"[:500])
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(srows)} rows  {time.time()-t0:.1f}s")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {e!r}"[:500])
            failed.append(name)
            continue
        fragile = fragile_oracle_types(con, oracles[name]) if exact else []
        if fragile:
            print(
                f"FAIL {name}: oracle output column(s) {fragile} render as "
                "decimal128 at the driver hash layer while fetchall() hides "
                "it (DuckDB SUM(BIGINT) returns HUGEINT) — add an outer "
                "CAST(... AS BIGINT/DOUBLE) in the oracle's final SELECT"
            )
            failed.append(name)
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            ns = norm_rows(scols, srows, cell)
            nd = norm_rows(dcols, drows, cell)
            if ns != nd:
                diffs = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                print(f"FAIL {name}: values differ, e.g. {diffs}")
                ok = False
        if ok and exact and _SAW_DECIMAL:
            print(
                f"FAIL {name}: decimal.Decimal in driver-facing output "
                "(fragile at the driver hash layer — cast to double/string "
                "in both engines)"
            )
            ok = False
        if ok:
            mode = " [exact]" if exact else ""
            print(f"ok{mode} {name}: {len(srows)} rows  {time.time()-t0:.1f}s")
        else:
            failed.append(name)
    print("FAILED:", failed) if failed else print("ALL OK")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
