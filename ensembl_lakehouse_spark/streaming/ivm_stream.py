"""Streaming medallion pipeline: raw stream → snapshot-versioned
source table → N incrementally-maintained rollups, one transaction
chain per micro-batch (the Delta Live Tables shape on plain
parquet; EXT composing streaming/continuous.py's sink discipline
with ivm.maintain_rollup's CDC deltas).

Division of labor per micro-batch:

1. **Ingest** — the raw batch MERGEs into the bronze/source
   snapshot table keyed on ``event_id``, stamped
   ``stream-ingest:batch={id}``. The stamp makes an at-least-once
   replay a no-op (the run_continuous_rollup_snapshots protocol);
   keying on the natural id additionally dedups any upstream
   redelivery *inside* a different batch id.
2. **Maintain** — every registered rollup ticks
   ``ivm.maintain_rollup(source, rollup)``: cost ∝ rows the commit
   changed (the snapshot_diff delta), never the table. Each tick is
   its own stamped, OCC-fenced commit, so the chain is exactly-once
   end to end even though it spans two tables — a crash between
   ingest and maintain just re-ticks on the next batch (maintain is
   versioned on the SOURCE version, not the batch id, so it catches
   up over any number of missed batches in one delta).

Why this is the 100 TB shape: state lives in the tables, not the
stream — the streaming query carries NO aggregation state (raw
pass-through, no watermark wait), so N downstream views cost N
delta applications per batch instead of N streaming state stores;
adding a view is a registration plus one backfill tick, not a
stream replay.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ensembl_lakehouse_spark import ivm
from ensembl_lakehouse_spark import snapshots as SN
from ensembl_lakehouse_spark.streaming.events import (
    _event_source,
    _max_files_option,
    _run_available_now,
)

_INGEST_STAMP = "stream-ingest:batch={id}"


@dataclass(frozen=True)
class RollupDef:
    """A downstream view: rollup table dir + the grouped aggregate
    it maintains (ivm's (n_rows, sum_val) contract)."""

    rollup_dir: str
    group_cols: tuple[str, ...]
    sum_col: str


@dataclass(frozen=True)
class AuxRollupDef:
    """A base-fed MIN/MAX or HLL-sketch view
    (ivm.maintain_aux_rollup) ticked per micro-batch like the sum
    rollups — the streaming feed for the rewrite's minmax/hll
    answering tier."""

    rollup_dir: str
    group_cols: tuple[str, ...]
    col: str
    kind: str = "minmax"


@dataclass(frozen=True)
class ChildRollupDef:
    """A HIERARCHICAL downstream view fed by a parent rollup's CDC
    (ivm.maintain_rollup_from_rollup for ``kind="sum"``;
    ivm.maintain_aux_rollup_from_rollup for ``"minmax"``/``"hll"`` —
    the parent must be an aux rollup of the same kind): ``key_exprs``
    maps child columns to SQL over the parent's columns. Children
    tick AFTER their parents within the same micro-batch (the
    bottom-up order the chain-freshness contract requires), so by
    batch end the whole lattice reflects the batch's source commit."""

    parent_dir: str
    child_dir: str
    key_exprs: dict[str, str]
    kind: str = "sum"


def _tick_child(spark: SparkSession, c: "ChildRollupDef") -> dict:
    if c.kind == "sum":
        return ivm.maintain_rollup_from_rollup(
            spark, c.parent_dir, c.child_dir, c.key_exprs
        )
    return ivm.maintain_aux_rollup_from_rollup(
        spark, c.parent_dir, c.child_dir, c.key_exprs, kind=c.kind
    )


def _topo_children(
    children: list[ChildRollupDef] | None,
) -> list[ChildRollupDef]:
    """Order children so every parent_dir that is ITSELF a declared
    child ticks before its dependents — declaration order is not a
    contract the caller should have to get right, and a mis-ordered
    list would silently leave each downstream hop one micro-batch
    stale (r7 ADVICE, ivm_stream.py:123). Kahn's algorithm over the
    (parent_dir → child_dir) edges; a cycle (a dir that is its own
    transitive parent) is a configuration error and raises."""
    import os as _os

    if not children:
        return []
    by_dir = {_os.path.abspath(c.child_dir): c for c in children}
    if len(by_dir) != len(children):
        raise ValueError("duplicate child_dir in children")
    remaining = dict(by_dir)
    ordered: list[ChildRollupDef] = []
    while remaining:
        ready = [
            d for d, c in remaining.items()
            if _os.path.abspath(c.parent_dir) not in remaining
        ]
        if not ready:
            raise ValueError(
                "children contain a parent/child cycle: "
                + ", ".join(sorted(remaining))
            )
        for d in ready:
            ordered.append(remaining.pop(d))
    return ordered


def _medallion_batch(
    spark: SparkSession,
    source_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    rollups: list[RollupDef],
    aux: list[AuxRollupDef],
    chain_order: list[ChildRollupDef],
    committed: set[str],
) -> tuple[int, bool, list[tuple[str, str]]]:
    """One micro-batch of the chain: MERGE the batch into the source
    under its ingest stamp unless ``committed`` (the source's op
    stamps, read once per run and extended here per commit) already
    holds it, then tick the rollups, the aux rollups and the ordered
    children.
    Returns (batch rows, whether the merge committed, [(view dir,
    maintain mode)] in tick order)."""
    # Rows are counted here, not from recentProgress: a raw
    # pass-through query's progress entries can over-report
    # numInputRows (observed 1667 for a 1000-row 3-file availableNow
    # run). Persisted across the count + merge so the batch's input
    # files are read once, not once per action.
    batch_df.persist()
    try:
        n_rows = batch_df.count()
        stamp = _INGEST_STAMP.format(id=batch_id)
        merged = stamp not in committed
        if merged:
            SN.merge_snapshot(
                spark, source_dir, batch_df, key="event_id", op=stamp
            )
            committed.add(stamp)
    finally:
        batch_df.unpersist()
    modes = []
    for r in rollups:
        out = ivm.maintain_rollup(
            spark, source_dir, r.rollup_dir, list(r.group_cols), r.sum_col
        )
        modes.append((r.rollup_dir, out["mode"]))
    for a in aux:
        out = ivm.maintain_aux_rollup(
            spark, source_dir, a.rollup_dir, list(a.group_cols), a.col,
            kind=a.kind,
        )
        modes.append((a.rollup_dir, out["mode"]))
    # children AFTER parents: each hop consumes the CDC the hop below
    # just committed, so one batch advances the whole lattice
    # (topologically ordered — declaration order is not load-bearing)
    for c in chain_order:
        modes.append((c.child_dir, _tick_child(spark, c)["mode"]))
    return n_rows, merged, modes


def run_stream_ivm(
    spark: SparkSession,
    events_dir: str,
    source_dir: str,
    rollups: list[RollupDef],
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
    children: list[ChildRollupDef] | None = None,
    aux: list[AuxRollupDef] | None = None,
) -> dict:
    """Drive the stream → source table → rollups chain with
    availableNow; returns {"n_batches", "n_input_rows",
    "source_version", "ticks": [maintain modes per batch]}.

    ``checkpoint_dir`` models restarts exactly as
    continuous.run_continuous_rollup_snapshots does: a second run on
    the same checkpoint ingests only new files; a REPLAYED batch
    (crash after commit, before checkpoint advance) is absorbed by
    the ingest stamp and the maintain ticks noop on the unchanged
    source version.
    """
    committed = set(SN.committed_ops(source_dir))
    chain_order = _topo_children(children)
    ticks: list[dict] = []
    n_rows = 0

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_rows
        rows, _, modes = _medallion_batch(
            spark, source_dir, batch_df, batch_id, rollups, aux or [],
            chain_order, committed,
        )
        n_rows += rows
        ticks.append({"batch_id": batch_id, **dict(modes)})

    stream = _event_source(
        spark, events_dir, **_max_files_option(max_files_per_trigger)
    )
    _run_available_now(stream, "append", sink, checkpoint_dir)
    return {
        "n_batches": len(ticks),
        "n_input_rows": n_rows,
        "source_version": SN.current_version(source_dir),
        "ticks": ticks,
    }


def replay_batch(
    spark: SparkSession,
    source_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    rollups: list[RollupDef],
    children: list[ChildRollupDef] | None = None,
    aux: list[AuxRollupDef] | None = None,
) -> dict:
    """Simulate an at-least-once redelivery of a committed batch
    (the crash-between-commit-and-checkpoint window): the ingest
    stamp makes the merge a no-op and every maintain tick noops on
    the unchanged source version. Returns the modes observed so
    tests can pin the no-op, not just the final state."""
    before = SN.current_version(source_dir)
    _, merged, modes = _medallion_batch(
        spark, source_dir, batch_df, batch_id, rollups, aux or [],
        _topo_children(children), set(SN.committed_ops(source_dir)),
    )
    return {
        "merged": merged,
        "modes": [mode for _, mode in modes],
        "version_before": before,
        "version_after": SN.current_version(source_dir),
    }
