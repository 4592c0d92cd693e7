"""Generate PLANS.md: a physical-plan audit row per registered query.

For each query (built at sf0.001, plans only — no result materialization)
records the scale-relevant plan properties: shuffle-exchange count,
forced broadcast hints, nested-loop/cartesian nodes, and how many scans
carry pushed filters. The table is a review artifact AND a drift
reference: `tests/test_plans.py` pins the load-bearing shapes, this file
shows the whole surface at a glance.

Usage: python tools/plan_report.py sf_dir
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from example_dms_dataexport_spark.plans import (  # noqa: E402
    broadcast_hint_count,
    exchange_count,
    physical_plan,
    pushed_filters,
)
from example_dms_dataexport_spark.registry import load_all  # noqa: E402
from example_dms_dataexport_spark.session import get_spark  # noqa: E402


def parse_args(argv):
    """The command line, checked before any Spark session starts:
    ``--help`` prints the usage, and an unknown flag, a missing
    ``sf_dir`` or one that is not a directory exit 2."""
    p = argparse.ArgumentParser(
        prog="plan_report.py", description=__doc__.split("\n\n")[0]
    )
    p.add_argument(
        "sf_dir", help="scale-factor dir the plans are built over (sf0.001)"
    )
    args = p.parse_args(argv)
    if not os.path.isdir(args.sf_dir):
        p.error(f"sf_dir {args.sf_dir!r} is not a directory")
    return args


def main(argv=None) -> None:
    sf_dir = parse_args(sys.argv[1:] if argv is None else argv).sf_dir
    spark = get_spark("plan-report", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = load_all()
    rows = []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            plan = physical_plan(df)
            rows.append(
                (
                    name,
                    exchange_count(df),
                    broadcast_hint_count(df),
                    "BroadcastNestedLoopJoin" in plan,
                    "CartesianProduct" in plan,
                    len(pushed_filters(df)),
                    "sql" if oracles.get(name) else "rows-only",
                )
            )
        except Exception as e:  # pragma: no cover - report, don't die
            rows.append((name, "ERR", "ERR", "ERR", "ERR", "ERR", str(e)[:60]))
    lines = [
        "# PLANS — physical-plan audit (generated by tools/plan_report.py",
        f"# at {sf_dir}; plans only, results not executed)",
        "",
        "Forced BNLJ appears only where intentional and bounded: eval",
        "probe slices (q28, q70, q153, q115's 1-probe cosine channel)",
        "and 1-row scalar relations (q52 corpus size, q59 min/max",
        "bounds, q69/q116 totals, q94's span bounds, q123's re-audit",
        "`remaining` attach). The r19 single-pass rewrites removed the",
        "q93/q148/q149 1-row attaches outright (window sums in place).",
        "Cartesian must stay False everywhere.",
        "",
        "| query | exchanges | forced-bcast | BNLJ | cartesian | pushed filters | oracle |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    out = "\n".join(lines) + "\n"
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(out)
    print(f"wrote PLANS.md with {len(rows)} rows")


if __name__ == "__main__":
    main()
