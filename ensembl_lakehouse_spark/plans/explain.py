"""Formatted-physical-plan capture + structural summary — the
".explain() and iterate" loop as a library, shared by the HTTP
EXPLAIN surface (GET /sql/explain, GET /analytics/{name}/plan) and
the plan-shape budgets in tests/test_plan_discipline.py. One parser
means the wire response and the pinned budgets can never count
shuffles differently.

The summary reports the structural facts a reviewer checks by hand:
hash-partitioning exchange count (shuffles — range exchanges that
order the final output are presentation, not data movement the
operator design controls), broadcast count, join strategies, scan
count, whole-stage-codegen spans, and what reached the parquet scan
(PushedFilters / ReadSchema)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The ``df.explain("formatted")`` text, returned instead of
    printed (explain() writes to stdout; servers need the string)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _detail(formatted: str, node_id: int) -> str:
    """The detail block for one plan node id (up to the next block)."""
    m = re.search(
        rf"^\({node_id}\) .*?(?=^\(\d+\) |\Z)", formatted, re.M | re.S
    )
    return m.group(0) if m else ""


def summarize(formatted: str) -> dict:
    """Parse the formatted plan's FINAL tree only. An executed
    adaptive plan prints both the final and the initial tree (and
    details for both), so naive whole-string counting double-counts
    every exchange/scan; instead collect node ids from the final
    tree section and read each node's detail block by id."""
    tree = formatted.split("== Initial Plan ==")[0]
    nodes = [
        (m.group(1).strip(), int(m.group(2)))
        for m in re.finditer(r"([A-Za-z][\w ]*?) \((\d+)\)", tree)
    ]
    shuffles = sum(
        1
        for name, nid in nodes
        if name == "Exchange"
        and "hashpartitioning" in _detail(formatted, nid)
    )
    scan_ids = [nid for name, nid in nodes if name == "Scan parquet"]
    pushed, read_schemas = [], []
    for nid in scan_ids:
        d = _detail(formatted, nid)
        pushed += re.findall(r"PushedFilters: \[([^\]]*)\]", d)
        read_schemas += re.findall(r"ReadSchema: ([^\n]*)", d)
    final_ids = {nid for _, nid in nodes}
    wscg = {
        cg
        for nid in final_ids
        for cg in re.findall(r"codegen id : (\d+)", _detail(formatted, nid))
    }
    return {
        "shuffles": shuffles,
        "broadcasts": sum(
            1 for name, _ in nodes if name == "BroadcastExchange"
        ),
        "joins": sorted(
            {name.split()[0] for name, _ in nodes if "Join" in name}
            - {"Join"}
        ),
        "scans": len(scan_ids),
        "wscg_spans": len(wscg),
        "pushed": pushed,
        "read_schemas": read_schemas,
    }


def explain_payload(df: DataFrame) -> dict:
    """The wire shape both EXPLAIN endpoints return."""
    fp = formatted_plan(df)
    return {"summary": summarize(fp), "plan": fp}
