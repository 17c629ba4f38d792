"""Output checks against DuckDB over the same parquet files.

The heavy checks run after the timed window; every failed check
counts as a failed operation.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa
import pyarrow.csv as pacsv


def _files_sql(files: list[str]) -> str:
    paths = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{paths}])"


def csv_result_rows(result_dir: str) -> tuple[list[str], int]:
    """(header, data-row count) of a query's CSV result directory."""
    header: list[str] = []
    rows = 0
    for path in sorted(glob.glob(os.path.join(result_dir, "part-*"))):
        if os.path.getsize(path) == 0:
            continue
        table = pacsv.read_csv(path)
        header = header or table.column_names
        rows += table.num_rows
    return header, rows


def lookup_count(parquet: str, key_col: str, key_value: str, condition: str) -> int:
    sql = (
        f"SELECT count(*) FROM read_parquet('{parquet}') "
        f"WHERE {key_col} = '{key_value}' AND ({condition})"
    )
    return duckdb.sql(sql).fetchone()[0]


def rollup_groups(files: list[str]) -> dict[tuple[str, str], tuple[int, int]]:
    """Per-(status, priority) row count and Σ trunc(o_totalprice): the
    aggregate endpoint's documented per-row BIGINT-truncating sum."""
    sql = (
        "SELECT o_orderstatus, o_orderpriority, count(*), "
        "sum(CAST(trunc(o_totalprice) AS BIGINT)) "
        f"FROM {_files_sql(files)} GROUP BY 1, 2"
    )
    return {(a, b): (int(n), int(s)) for a, b, n, s in duckdb.sql(sql).fetchall()}


def custkey_count(files: list[str], custkey: int) -> int:
    sql = f"SELECT count(*) FROM {_files_sql(files)} WHERE o_custkey = {int(custkey)}"
    return duckdb.sql(sql).fetchone()[0]


def preview_table(preview: dict) -> tuple[list[str], list[list[str | None]]]:
    """Header and rows of an Athena-shaped preview payload."""
    rows = preview["Rows"]
    header = [c.get("VarCharValue") for c in rows[0]["Data"]]
    return header, [[c.get("VarCharValue") for c in r["Data"]] for r in rows[1:]]


def oracle_problems(sf_dir: str, name: str, result_dir: str, oracle_sql: str) -> list[str]:
    """``tools/check_oracle.compare`` of the CSV result the engine
    wrote against the operator's DuckDB oracle over ``sf_dir``. The
    CSV is parsed with the oracle's column types, so values compare
    exactly without running the query again."""
    import check_oracle  # tools/, put on sys.path by run.py

    con = check_oracle.duckdb_conn(sf_dir)
    try:
        duck = con.execute(oracle_sql).fetch_arrow_table()
    finally:
        con.close()
    types = dict(zip(duck.schema.names, duck.schema.types))
    parts = [
        pacsv.read_csv(path, convert_options=pacsv.ConvertOptions(column_types=types))
        for path in sorted(glob.glob(os.path.join(result_dir, "part-*")))
        if os.path.getsize(path) > 0
    ]
    if not parts:
        return [f"{name}: no result rows"]
    spark_pdf = pa.concat_tables(parts).to_pandas()
    return check_oracle.compare(name, spark_pdf, duck.to_pandas())


def path_bytes(path: str) -> int:
    """Size of a file, or of every file under a directory."""
    return os.path.getsize(path) if os.path.isfile(path) else dir_bytes(path)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
