"""Driver-contract integrity guards (no SparkSession needed — fast).

Protects the __spark_entry__ wiring against future-round mistakes:
every query callable must be importable, every oracle must be valid
DuckDB SQL against the fixture schema (EXPLAIN parses and binds
without executing), and the documented no-oracle exceptions must
stay an explicit, short list."""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: queries() entries deliberately lacking an oracle (iterative /
#: not SQL-expressible). Adding to this list is an explicit act.
NO_ORACLE_ALLOWED = {
    # Iterative label propagation — pinned vs Python union-find.
    "dedup_components",
    # Eigendecomposition — pinned vs numpy.linalg.eigh.
    "embedding_pca",
    # Ridge matrix solve — pinned vs numpy.linalg.solve.
    "quality_classifier",
    # Greedy BPE merge loop — pinned vs the pure-Python reference.
    "bpe_encode",
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def test_every_query_is_callable():
    qs = entry.queries()
    assert qs, "queries() is empty"
    for name, fn in qs.items():
        assert callable(fn), name


def test_oracle_coverage_is_total_minus_documented_exceptions():
    qs, oracles = entry.queries(), entry.oracle_sql()
    missing = set(qs) - set(oracles)
    assert missing == NO_ORACLE_ALLOWED, (
        f"queries without an oracle beyond the documented set: "
        f"{missing - NO_ORACLE_ALLOWED}; stale exceptions: "
        f"{NO_ORACLE_ALLOWED - missing}"
    )
    orphans = set(oracles) - set(qs)
    assert not orphans, f"oracles with no query: {orphans}"


def test_every_oracle_parses_and_binds_in_duckdb():
    """Threaded over INDEPENDENT in-memory connections (cursors of
    one connection share its database lock and serialized WORSE than
    the plain loop — measured 124 s vs 58 s): DuckDB's planner is
    single-threaded per statement and several oracles are huge CTE
    chains, so 8 separate databases (views are zero-copy parquet
    reads) bind 368 oracles in parallel."""
    from concurrent.futures import ThreadPoolExecutor

    items = list(entry.oracle_sql().items())

    def bind_slice(part):
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(SF_DIR, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        fails = []
        for name, sql in part:
            try:
                con.execute(f"EXPLAIN {sql}")
            except Exception as exc:  # pragma: no cover
                fails.append(f"oracle for {name!r} does not bind: {exc}")
        con.close()
        return fails

    parts = [items[i::8] for i in range(8)]
    with ThreadPoolExecutor(max_workers=8) as pool:
        failures = [f for fs in pool.map(bind_slice, parts) for f in fs]
    assert not failures, "\n".join(failures)


def _driver_green() -> set[str]:
    """Names with a cumulative driver-green CORRECTNESS row."""
    import glob
    import json

    green = set()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        for name, v in json.load(open(path)).items():
            if v.get("rows_match") and v.get("schema_match") and v.get("hash_match"):
                green.add(name)
    return green


def test_no_oracle_entries_stay_out_of_the_driver_window():
    """The driver samples list(queries())[:50]; its behavior on a
    missing oracle key is unverified, so the 4 no-oracle entries must
    never sit inside that window."""
    window = list(entry.queries())[:50]
    assert not (set(window) & NO_ORACLE_ALLOWED), (
        f"no-oracle entries inside the first-50 driver window: "
        f"{set(window) & NO_ORACLE_ALLOWED}"
    )


def test_every_uncertified_oracle_query_is_inside_the_driver_window():
    """Rotation invariant: any oracle-backed entry without a
    cumulative driver-green row must be in the first-50 window so the
    next driver run certifies it. Recomputed from the committed
    CORRECTNESS_r*.json files, so this stays correct as rounds land."""
    green = _driver_green()
    qs = list(entry.queries())
    oracle_backed = set(entry.oracle_sql())
    uncertified = [q for q in qs if q in oracle_backed and q not in green]
    window = set(qs[:50])
    stranded = [q for q in uncertified if q not in window]
    assert len(uncertified) <= 50, (
        f"{len(uncertified)} uncertified entries cannot fit one window; "
        f"prioritize or split across rounds"
    )
    assert not stranded, f"uncertified entries outside the window: {stranded}"


#: DuckDB type-string fragments that mark a non-scalar column. The
#: driver's pandas canonicalizer sort_values over all columns dies on
#: unhashable cells (lists/structs/maps) — r4's only red row
#: (inverted_postings) was exactly this, with correct values.
_NON_SCALAR_DUCK = ("[]", "STRUCT(", "MAP(", "UNION(")


def test_every_oracle_output_column_is_scalar(duck):
    """DESCRIBE each oracle (binds without executing) and reject any
    list/struct/map output column — serialize with array_to_string
    before projecting. The Spark-side twin lives in
    tests/test_output_schema_lint.py."""
    for name, sql in entry.oracle_sql().items():
        rows = duck.execute(f"DESCRIBE {sql}").fetchall()
        for col, typ, *_ in rows:
            assert not any(tag in typ.upper() for tag in _NON_SCALAR_DUCK), (
                f"{name}.{col} has non-scalar oracle type {typ}; the driver "
                f"canonicalizer cannot hash it — array_to_string it"
            )


def test_registry_has_no_duplicate_keys_or_shadowed_operators():
    """r8 regression guard: a new operator that reuses an existing
    name silently destroys the old one twice over — Python's
    last-def-wins makes the module attribute resolve to the new
    function, and a repeated name in QUERIES collapses in the
    queries() dict comprehension (it cost the r6 events_burstiness
    and nearly the r5 orders_rfm_segments their certifications).
    Count the names in the ordered tuple BEFORE the dict swallows
    them, and assert no operator module defines one name twice —
    which also keeps each ``<NAME>_SQL`` oracle unique."""
    import ast
    import collections

    dups = [
        k
        for k, c in collections.Counter(
            f.__name__ for f in entry.QUERIES
        ).items()
        if c > 1
    ]
    assert not dups, f"QUERIES lists a name twice: {dups}"

    import ensembl_lakehouse_spark.operators as ops_pkg
    import os as _os
    import pkgutil

    for mod in pkgutil.iter_modules(ops_pkg.__path__):
        path = _os.path.join(ops_pkg.__path__[0], mod.name + ".py")
        tree = ast.parse(open(path).read())
        names = [
            n.name for n in tree.body if isinstance(n, ast.FunctionDef)
        ]
        consts = [
            t.id
            for n in tree.body
            if isinstance(n, ast.Assign)
            for t in n.targets
            if isinstance(t, ast.Name)
        ]
        for label, seq in (("def", names), ("constant", consts)):
            dups = [
                k for k, c in collections.Counter(seq).items() if c > 1
            ]
            assert not dups, (
                f"operators/{mod.name}.py defines {label} twice "
                f"(last silently wins): {dups}"
            )
