#!/usr/bin/env python
"""Plan-discipline audit: dump every contract query's physical plan
summary to PLANS.md.

For each ``__spark_entry__.queries()`` entry, records the executed
plan's structural facts a reviewer checks by hand: exchange count
(shuffles), join strategies, scan pushdown (PushedFilters/
ReadSchema), whole-stage-codegen coverage, and the full formatted
plan — the ".explain() and iterate" loop, made inspectable.

Usage: python tools/explain_audit.py [sf_dir]  (default sf0.01)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ensembl_lakehouse_spark.plans.explain import (  # noqa: E402
    formatted_plan,
    summarize,
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry
    from ensembl_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="explain-audit")
    lines = [
        "# PLANS — physical-plan audit of every contract query",
        "",
        f"Generated by `python tools/explain_audit.py {sf_dir}`. For each query:",
        "shuffle/broadcast/scan counts, join strategies, whole-stage-codegen",
        "spans, and what reached the Parquet scan. Full formatted plans below",
        "each summary.",
        "",
    ]
    for name, fn in entry.queries().items():
        df = fn(spark, sf_dir)
        # Execute BEFORE extracting: with AQE on, the pre-execution
        # plan is the initial one (isFinalPlan=false, no codegen ids,
        # join strategies not yet re-planned). The audit must show
        # the plan that actually ran — and it must be THIS df's own
        # queryExecution (count() would execute a different plan).
        df.collect()
        formatted = formatted_plan(df)
        s = summarize(formatted)
        lines += [
            f"## {name}",
            "",
            f"- shuffles: {s['shuffles']}, broadcasts: {s['broadcasts']}, "
            f"scans: {s['scans']}, codegen spans: {s['wscg_spans']}",
            f"- joins: {', '.join(s['joins']) if s['joins'] else 'none'}",
        ]
        for i, (pf, rs) in enumerate(zip(s["pushed"], s["read_schemas"])):
            lines.append(f"- scan {i}: PushedFilters=[{pf}] ReadSchema={rs.strip()}")
        lines += ["", "<details><summary>formatted plan</summary>", "", "```"]
        lines += formatted.rstrip().splitlines()
        lines += ["```", "", "</details>", ""]
        print(f"audited {name}")

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
