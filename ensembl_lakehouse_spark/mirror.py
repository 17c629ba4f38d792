"""Row-level table mirroring from CDC diffs — the Delta `APPLY
CHANGES INTO` / downstream-replica loop, composed entirely from this
repo's primitives: ``snapshot_diff`` (the change feed),
``merge_snapshot`` (upserts), ``delete_snapshot`` (deletes), and the
retention-independent ``_txns`` op stamps (exactly-once replay).

Why a mirror and not a copy: at 100 TB a consumer that re-copies the
table per sync is a non-starter; this advances the replica by the
KEY-LEVEL diff between the last mirrored version and the source's
current version — the diff plans only the files the source commits
touched (manifest-level skipping), the upsert/delete apply is
file-scoped on the destination, so sync cost is ∝ change on BOTH
sides. Over HTTP the same feed is served by
``/table/{name}/changes`` (api/http.py); this module is the
in-process consumer of exactly that feed.

Requires a MERGE/DELETE-maintained source (unique keys — the
``snapshot_diff(key=)`` contract).

Crash safety: deletes commit first under ``mirror-del:v{N}``, then
upserts under the FINAL stamp ``mirror:v{N}`` (which is also the
last-applied marker). A crash between the two leaves ``mirror-del``
stamped but not ``mirror``; the next sync detects that DANGLING
half-sync and first COMPLETES it at the same target version N
(diff last→N; the del stamp makes the delete replay a no-op; the
upserts apply and stamp ``mirror:v{N}``) before advancing to the
source's current version. Completing at N — not jumping straight
to the current M>N — matters: a key deleted by vN (already applied
to the replica) and re-inserted by a later commit with its original
values is "unchanged" in the last→M diff, so the straight jump
would silently never restore it. Each half is applied exactly once.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ensembl_lakehouse_spark import snapshots as SN

_STAMP = "mirror:v"
_DEL_STAMP = "mirror-del:v"


def last_mirrored_version(dst_dir: str) -> int | None:
    """Source version the destination last fully applied (None for a
    never-seeded mirror) — read from the destination's retention-
    independent op stamps, so vacuum cannot reopen the window."""
    if SN.current_version(dst_dir) is None:
        return None
    versions = [
        int(op[len(_STAMP):])
        for op in SN.committed_ops(dst_dir)
        if op.startswith(_STAMP)
    ]
    return max(versions) if versions else None


def mirror_snapshot(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    key: str | list[str] | tuple[str, ...],
    scope_by: str | None = None,
) -> dict:
    """Advance ``dst_dir`` to ``src_dir``'s current version by
    replaying the key-level CDC feed; returns a summary dict.

    First call seeds the mirror with a full read (one commit,
    stamped). Every later call applies only the diff — inserts and
    updates as one MERGE, deletes as one key-list DELETE — each
    commit stamped with the source version so a replayed or crashed
    sync resumes exactly once. ``scope_by`` (one of the keys) makes
    both applies file-scoped on the destination.
    """
    keys = [key] if isinstance(key, str) else list(key)
    src_v = SN.current_version(src_dir)
    if src_v is None:
        raise FileNotFoundError(f"no committed snapshot in {src_dir}")
    last = last_mirrored_version(dst_dir)
    if last == src_v:
        return {"from": last, "to": src_v, "action": "noop"}

    if last is None:
        SN.merge_snapshot(
            spark,
            dst_dir,
            # pinned at the version the stamp names: a racing source
            # commit must not pair v(N+1)'s rows with the v{N} stamp
            SN.read_snapshot(spark, src_dir, version=src_v),
            key=keys,
            op=f"{_STAMP}{src_v}",
            scope_by=scope_by,
        )
        return {"from": None, "to": src_v, "action": "seed"}

    if last > src_v:
        raise ValueError(
            f"destination is ahead (applied v{last}, source at v{src_v}) "
            "— was the source rolled back? Re-seed into a fresh mirror."
        )
    # Crash recovery: a dangling del stamp (deletes applied for vN,
    # mirror:vN never landed) means an interrupted sync TO vN — finish
    # it at exactly vN first, else a vN-deleted key re-inserted by a
    # later source commit with its original values diffs "unchanged"
    # over last→current and is lost from the replica forever.
    applied_ops = set(SN.committed_ops(dst_dir))
    dangling = sorted(
        n
        for n in (
            int(op[len(_DEL_STAMP):])
            for op in applied_ops
            if op.startswith(_DEL_STAMP)
        )
        if n > last and f"{_STAMP}{n}" not in applied_ops
    )
    if any(n > src_v for n in dangling):
        raise ValueError(
            f"dangling half-sync at v{max(dangling)} is ahead of the "
            f"source (v{src_v}) — was the source rolled back? Re-seed "
            "into a fresh mirror."
        )
    resumed = [n for n in dangling if n < src_v]
    frm = last
    n_up = n_del = 0
    for to_v in [*resumed, src_v]:
        u, d = _apply_delta(spark, src_dir, dst_dir, keys, scope_by, last, to_v)
        n_up += u
        n_del += d
        last = to_v
    out = {
        "from": frm,
        "to": src_v,
        "action": "delta",
        "upserts": n_up,
        "deletes": n_del,
    }
    if resumed:
        out["resumed"] = resumed
    return out


def _apply_delta(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    keys: list[str],
    scope_by: str | None,
    frm: int,
    to_v: int,
) -> tuple[int, int]:
    """Apply the key-level diff ``frm → to_v`` to the destination as
    (delete commit, upsert commit), each half skipped when its stamp
    already landed — the exactly-once unit one sync (or one resumed
    half-sync) replays. Returns (upserts, deletes) planned from the
    diff (a stamped-as-applied half still counts toward the summary,
    so a resume reports the full delta it covered)."""
    from pyspark.sql import functions as F

    # one materialization: the feed is consumed by two applies and a
    # count; the checkpoint pins a consistent view, truncates the diff
    # lineage out of both apply plans, and is released after them
    with SN.materialized(
        SN.snapshot_diff(spark, src_dir, frm, to_v, key=keys)
    ) as diff:
        applied_ops = set(SN.committed_ops(dst_dir))
        dels = diff.where(F.col("_change") == "delete").select(*keys)
        n_del = dels.count()
        if n_del and f"{_DEL_STAMP}{to_v}" not in applied_ops:
            SN.delete_snapshot(
                spark,
                dst_dir,
                keys=dels,
                key=keys,
                scope_by=scope_by,
                op=f"{_DEL_STAMP}{to_v}",
            )
        ups = diff.where(F.col("_change") != "delete")
        n_up = ups.count()
        if n_up:
            up_rows = ups.select(*keys, "_row.*")
            SN.merge_snapshot(
                spark,
                dst_dir,
                up_rows,
                key=keys,
                op=f"{_STAMP}{to_v}",
                scope_by=scope_by,
            )
        else:
            # still advance the last-applied marker: a delete-only sync
            # must not be replayed forever — stamp with a no-match commit
            SN.delete_snapshot(
                spark, dst_dir, where="1 = 0", op=f"{_STAMP}{to_v}"
            )
    return n_up, n_del
