"""Resumable chunked backfill: apply an operator over a huge table
in key-range chunks, committing each chunk atomically to a snapshot
table with an idempotence stamp — the orchestration shape every
"re-tokenize / re-score / re-embed the whole corpus" job at 100 TB
uses (you never run those as one monolithic job: a 90%-done failure
must resume, not restart).

Built by composition, not new machinery:

- chunking is a pure predicate on a deterministic hash of the key
  (functions/hashing md5 contract — stable across runs, uniform, no
  coordination), so any worker can compute its chunk membership;
- each completed chunk is ONE atomic merge commit into a
  snapshots.py table stamped ``backfill:chunk={i}/{n}`` — exactly
  the streaming sink's exactly-once protocol
  (streaming/continuous.py), reused for batch;
- resuming is reading the stamps: completed chunks are skipped
  without touching their data (cost of a resume = remaining chunks
  only, asserted in tests).

The reference has nothing like this (single-statement Athena
dispatch, app/main.py:478-485); at scale this module is the
difference between a re-runnable pipeline and a prayer.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark import snapshots as SN
from ensembl_lakehouse_spark.functions.hashing import spark_md5_long31

#: Stamp format shared by writer and resumer.
_STAMP = "backfill:chunk={i}/{n}"


def _chunk_predicate(key_col: str, i: int, n_chunks: int) -> F.Column:
    """Deterministic hash-range membership for chunk ``i`` of
    ``n_chunks`` — md5-derived so it is stable across runs/engines
    and uniform regardless of key distribution (a naive modulo on a
    skewed business key would make chunk sizes lopsided)."""
    h = spark_md5_long31(f"CAST({key_col} AS STRING)")
    return F.expr(f"{h} % {n_chunks}") == i


def completed_chunks(table_dir: str, n_chunks: int) -> set[int]:
    """Chunk indices already durably committed for this chunk count."""
    out = set()
    for op in SN.committed_ops(table_dir):
        if op.startswith("backfill:chunk=") and op.endswith(f"/{n_chunks}"):
            out.add(int(op.split("=")[1].split("/")[0]))
    return out


def run_backfill(
    spark: SparkSession,
    source: DataFrame,
    table_dir: str,
    op: Callable[[DataFrame], DataFrame],
    key_col: str,
    n_chunks: int = 8,
) -> dict:
    """Apply ``op`` to ``source`` chunk by chunk, merging each result
    into the snapshot table keyed on ``key_col``. Skips chunks whose
    stamp is already committed; a chunk that raises stops the run
    with everything before it durable. Returns
    ``{"processed": [...], "skipped": [...]}``.
    """
    done = completed_chunks(table_dir, n_chunks)
    processed, skipped = [], []
    for i in range(n_chunks):
        if i in done:
            skipped.append(i)
            continue
        chunk = source.where(_chunk_predicate(key_col, i, n_chunks))
        result = op(chunk)
        SN.merge_snapshot(
            spark,
            table_dir,
            result,
            key=key_col,
            op=_STAMP.format(i=i, n=n_chunks),
        )
        processed.append(i)
    return {"processed": processed, "skipped": skipped}
