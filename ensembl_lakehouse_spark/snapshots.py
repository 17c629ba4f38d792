"""Snapshot-versioned parquet tables: a minimal manifest-based table
format (append / overwrite / merge / time travel / rollback /
compaction) in the Delta/Iceberg mold, built on nothing but parquet
files + atomic manifest swaps.

Why it exists: the reference's result objects are immutable S3
parquet keyed by query hash (app/tasks.py:16-21) — readers never see
partial writes because a key is only advertised after its object
exists. This module generalizes that discipline to *mutable* tables
the engine owns (the warehouse.py catalog covers restart-durable
*schemas*; this covers restart-durable *data versions*):

- Every write lands in a fresh ``data/v{N}-*/`` directory — existing
  files are NEVER mutated or deleted by a commit, so running readers
  keep a consistent view (snapshot isolation by immutability).
- A commit is ONE atomic step: write manifest ``v{N}.json`` (the
  file list + op metadata), then ``os.replace`` the ``_current``
  pointer. Readers resolve the pointer once; they either see v{N-1}
  or v{N}, never a mix.
- Writers are optimistic: ``expect_version`` lets a caller assert
  the table hasn't moved since it planned its commit; a concurrent
  commit raises ``SnapshotConflict`` instead of silently clobbering
  (the Delta OCC protocol, single-pointer form).

On object storage the pointer swap becomes a conditional PUT (S3
if-match / GCS generation preconditions) and everything else is
unchanged — manifests and data files are immutable blobs. At 100 TB
the manifest lists file paths, not rows; commit cost is O(files
touched), readers plan partition pruning from the path list exactly
as ``spark.read.parquet(*files)`` already does.

Time travel reads any retained version; ``rollback`` is just a new
manifest pointing at an old version's file list (never a delete);
``compact`` rewrites the current file list into few large files as a
new snapshot — the small-file maintenance every streaming sink needs
(pairs with streaming/continuous.py's per-batch appends).

Every writing verb (write/append, merge, delete, update, drop and
rename column, compact) ends in the ONE copy-on-write step
``_cow_commit``: write the new rows, record their stats (and blooms
when asked), carry the untouched base files by reference with their
metadata, commit. The manifest records the version's schema, so
files are read through ``_read_file_subset`` under that schema with no
inference job; the delete/update finding scan is ``_finding_scan``,
and every pointer, manifest, tag and constraint swap is
``_atomic_write``. A verb that reads its input more than once (MERGE's
source, DELETE's key list) computes it once through ``materialized``.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import threading
import time
import uuid
from collections import OrderedDict, defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Per-table commit locks: within one process, check-then-swap in
#: _commit is atomic, so two racing writers resolve to one committed
#: and one SnapshotConflict instead of a silently lost update. Across
#: processes / object stores the same span is what a conditional PUT
#: (S3 if-match, GCS generation) makes atomic — the lock is the
#: embedded-mode stand-in for that precondition.
_COMMIT_LOCKS: defaultdict[str, threading.Lock] = defaultdict(threading.Lock)
_LOCKS_GUARD = threading.Lock()


def _table_lock(table_dir: str) -> threading.Lock:
    with _LOCKS_GUARD:
        return _COMMIT_LOCKS[os.path.abspath(table_dir)]


class SnapshotConflict(RuntimeError):
    """The table moved past ``expect_version`` between plan and commit."""


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifests")


def _txns_path(table_dir: str) -> str:
    """Append-only (version, op) log surviving vacuum — see the
    commit-path comment; the object-store analog is an append to a
    _txns object or one marker object per stamp."""
    return os.path.join(table_dir, "_txns")


def _pointer_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_current")


def current_version(table_dir: str) -> int | None:
    """Committed version, or None for a nonexistent/empty table."""
    try:
        with open(_pointer_path(table_dir)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def _committed_version(table_dir: str) -> int:
    """The current version of a table that must have one."""
    cur = current_version(table_dir)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    return cur


def _atomic_write(path: str, text: str) -> None:
    """Write ``text`` to a fresh tmp file, then swap it over ``path``:
    readers see the old content or the new, never a torn write, and a
    crash leaves only a ``.tmp-*`` stray (vacuum sweeps manifest ones)."""
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


#: Commits between FULL manifest checkpoints. In between, a commit
#: stores only its DELTA against the parent (files added/removed +
#: per-file metadata set/unset), so the durable commit payload is
#: O(files touched + 1/INTERVAL · total files) instead of O(total
#: files) — the Delta-checkpoint / Iceberg-manifest-list move. At
#: 10⁶ files and frequent streaming commits the full-list-per-commit
#: write IS the bottleneck; with deltas a reader resolves at most one
#: checkpoint + INTERVAL-1 deltas (and the resolve cache makes the
#: amortized cost one apply per new version).
CHECKPOINT_INTERVAL = 25

#: Resolved-manifest LRU: manifests are immutable once committed
#: (vacuum may REWRITE a kept delta as an equivalent checkpoint, and
#: tmp dirs can be recreated across tests), so entries key on the
#: raw file's (mtime_ns, size) and never go stale — a rewritten or
#: recreated path simply misses.
_RESOLVE_CACHE: OrderedDict[tuple, dict] = OrderedDict()
_RESOLVE_CACHE_MAX = 64
_RESOLVE_CACHE_LOCK = threading.Lock()


def _raw_manifest(table_dir: str, version: int) -> dict:
    """The stored form — full checkpoint or delta — WITHOUT
    resolution. Only the commit path (chain-length bookkeeping) and
    vacuum (re-checkpointing) care about the distinction."""
    with open(os.path.join(_manifest_dir(table_dir), f"v{version}.json")) as f:
        return json.load(f)


_MAP_FIELDS = ("stats", "blooms", "rowcounts")


def _apply_delta(parent: dict, raw: dict) -> dict:
    """Resolve a delta manifest against its RESOLVED parent into the
    self-contained form every consumer sees. Exact by construction:
    the encoder diffs the fully-built manifest field-wise, so apply ∘
    encode is the identity on (files, stats, blooms, rowcounts,
    schema)."""
    files = (
        set(parent["files"]) - set(raw["files_remove"])
    ) | set(raw["files_add"])
    out = {
        "version": raw["version"],
        "parent": raw["parent"],
        "op": raw["op"],
        "files": sorted(files),
        "committed_at": raw["committed_at"],
        "chain": raw["chain"],
        # a delta stores the schema only when it changed
        "schema": raw["schema"] if "schema" in raw else parent.get("schema"),
    }
    for name in _MAP_FIELDS:
        dels = set(raw[f"{name}_del"])
        merged = {
            k: v
            for k, v in (parent.get(name) or {}).items()
            if k not in dels
        }
        merged.update(raw[f"{name}_set"])
        out[name] = merged
    return out


def _encode_delta(parent: dict, full: dict) -> dict:
    """Diff a fully-built (JSON-normalized) manifest against its
    resolved parent. CPU is O(total files) in memory — unavoidable
    while callers hand _commit the complete file list — but the
    DURABLE payload (the fsync/conditional-PUT that serializes every
    commit) shrinks to O(files touched), which is the cost that
    matters on an object store."""
    pf, nf = set(parent["files"]), set(full["files"])
    out = {
        "kind": "delta",
        "version": full["version"],
        "parent": full["parent"],
        "op": full["op"],
        "committed_at": full["committed_at"],
        "chain": full["chain"],
        "files_add": sorted(nf - pf),
        "files_remove": sorted(pf - nf),
    }
    if full.get("schema") != parent.get("schema"):
        out["schema"] = full.get("schema")
    missing = object()
    for name in _MAP_FIELDS:
        pm = parent.get(name) or {}
        nm = full.get(name) or {}
        out[f"{name}_set"] = {
            k: v for k, v in nm.items() if pm.get(k, missing) != v
        }
        out[f"{name}_del"] = sorted(k for k in pm if k not in nm)
    return out


def _resolve_manifest(table_dir: str, version: int) -> dict:
    """One resolve walk (delta → ancestors), cache-backed. May raise
    FileNotFoundError mid-walk when a RACING vacuum re-checkpointed
    the kept delta and dropped its ancestors between this walk's
    stat of the child and its open of the parent — _read_manifest
    owns the retry."""
    path = os.path.join(_manifest_dir(table_dir), f"v{version}.json")
    st = os.stat(path)
    key = (os.path.abspath(table_dir), version, st.st_mtime_ns, st.st_size)
    with _RESOLVE_CACHE_LOCK:
        cached = _RESOLVE_CACHE.get(key)
        if cached is not None:
            _RESOLVE_CACHE.move_to_end(key)
            return cached
    with open(path) as f:
        raw = json.load(f)
    if raw.get("kind") == "delta":
        resolved = _apply_delta(
            _resolve_manifest(table_dir, raw["parent"]), raw
        )
    else:
        resolved = raw
    with _RESOLVE_CACHE_LOCK:
        _RESOLVE_CACHE[key] = resolved
        while len(_RESOLVE_CACHE) > _RESOLVE_CACHE_MAX:
            _RESOLVE_CACHE.popitem(last=False)
    return resolved


def _read_manifest(table_dir: str, version: int) -> dict:
    """The RESOLVED (self-contained) manifest of a version. Callers
    must treat the result as immutable — it is shared via the
    resolve cache.

    Reads are lock-free by design, so a concurrent ``vacuum`` can
    interleave with a resolve walk: it rewrites every KEPT delta as
    a full checkpoint (under the table lock), then drops the old
    ancestor manifests. A walk that opened a kept version's raw
    delta form just before the rewrite then recurses into a parent
    deleted moments later — FileNotFoundError for a still-retained
    version, which would transiently poison the engine's
    ``@unreadable`` view fingerprint (r8 ADVICE). The retry below
    re-stats from the REQUESTED version: if it is retained, vacuum
    has by then rewritten it self-contained (new mtime → fresh cache
    key) and the second walk cannot recurse; if it was genuinely
    dropped, the retry re-raises the same FileNotFoundError —
    vacuumed-history semantics are unchanged."""
    try:
        return _resolve_manifest(table_dir, version)
    except FileNotFoundError:
        return _resolve_manifest(table_dir, version)


#: Committed manifests only — a crash between the tmp write and the
#: os.replace leaves a ``v{N}.json.tmp-*`` stray that must never be
#: parsed (it is garbage by protocol; vacuum sweeps it).
_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")


def _manifest_names(mdir: str) -> list[str]:
    return sorted(
        (n for n in os.listdir(mdir) if _MANIFEST_RE.match(n)),
        key=lambda n: int(_MANIFEST_RE.match(n).group(1)),
    )


def history(table_dir: str) -> list[dict]:
    """All retained snapshots, oldest first: version, op, file count,
    commit wall time. The audit surface a `DESCRIBE HISTORY` serves."""
    out = []
    cur = current_version(table_dir)
    if cur is None:
        return out
    mdir = _manifest_dir(table_dir)
    for name in _manifest_names(mdir):
        # resolved, not raw: a delta manifest stores only the files
        # it touched, but history reports the version's full width
        m = _read_manifest(table_dir, int(_MANIFEST_RE.match(name).group(1)))
        out.append(
            {
                "version": m["version"],
                "op": m["op"],
                "n_files": len(m["files"]),
                "committed_at": m["committed_at"],
                "parent": m.get("parent"),
                "is_current": m["version"] == cur,
            }
        )
    return out


def table_rowcount(table_dir: str, version: int | None = None) -> int | None:
    """Exact row count of a version from manifest metadata alone —
    zero data reads, zero Spark jobs (the Delta-log COUNT(*) answer
    path). Returns None when any file of the version lacks a
    recorded count (pre-rowcount manifests, unreadable footer at
    write time) — the caller falls back to a scan, never to a wrong
    number."""
    v = version if version is not None else current_version(table_dir)
    if v is None:
        return None
    manifest = _read_manifest(table_dir, v)
    counts = manifest.get("rowcounts", {})
    total = 0
    for rel in manifest["files"]:
        if rel not in counts:
            return None
        total += counts[rel]
    return total


def _commit(
    table_dir: str,
    files: list[str],
    op: str,
    expect_version: int | None,
    base_seen: int | None,
    stats: dict | None = None,
    blooms: dict | None = None,
    rowcounts: dict[str, int] | None = None,
    schema: dict | None = None,
) -> int:
    """Write manifest v{N} then atomically swap the pointer.

    ``base_seen`` is the version the writer planned against (None for
    a fresh table); the swap-time re-check implements single-pointer
    OCC. The whole check+write+swap span holds the per-table commit
    lock, so in-process racing writers resolve to one winner and one
    SnapshotConflict — never a silently lost update (asserted under
    real thread contention in tests). Cross-process, the same span is
    what an object store's conditional PUT makes atomic.
    """
    # Footer reads for per-file rowcounts happen OUTSIDE the lock
    # (like _file_stats/_file_blooms, which callers compute before
    # committing): ``rowcounts`` (the fresh files' counts _file_stats
    # already read) are taken as given, and only files neither given
    # nor counted by the pre-lock pointer's manifest are read — the
    # rollback path; the locked section re-checks the authoritative
    # base manifest and only falls back to these.
    pre = current_version(table_dir)
    pre_counts = (
        _read_manifest(table_dir, pre).get("rowcounts", {})
        if pre is not None
        else {}
    )
    fresh_counts = dict(rowcounts or {})
    for rel in files:
        if rel in pre_counts or rel in fresh_counts:
            continue
        try:
            import pyarrow.parquet as pq

            fresh_counts[rel] = pq.ParquetFile(
                os.path.join(table_dir, rel)
            ).metadata.num_rows
        except Exception:
            pass
    with _table_lock(table_dir):
        return _commit_locked(
            table_dir, files, op, expect_version, base_seen, stats, blooms,
            fresh_counts, schema,
        )


def _commit_locked(
    table_dir: str,
    files: list[str],
    op: str,
    expect_version: int | None,
    base_seen: int | None,
    stats: dict | None = None,
    blooms: dict | None = None,
    fresh_counts: dict[str, int] | None = None,
    schema: dict | None = None,
) -> int:
    now_cur = current_version(table_dir)
    if expect_version is not None and now_cur != expect_version:
        raise SnapshotConflict(
            f"table at v{now_cur}, caller expected v{expect_version}"
        )
    if expect_version is None and now_cur != base_seen:
        raise SnapshotConflict(
            f"table moved v{base_seen} -> v{now_cur} during write"
        )
    version = (now_cur if now_cur is not None else -1) + 1
    os.makedirs(_manifest_dir(table_dir), exist_ok=True)
    # Per-file row counts (the Delta-log trick that lets COUNT(*) be
    # answered from metadata alone): carried files copy their count
    # from the base manifest (authoritative, re-read under the lock);
    # freshly written files use the footer num_rows _file_stats or the
    # UNLOCKED _commit wrapper read (so footer I/O never lengthens the
    # commit critical section). Centralized here so every commit path
    # (the verbs' shared _cow_commit step and rollback) records counts
    # the same way. A file covered by neither is simply absent
    # (table_rowcount then reports unknown rather than a wrong number).
    parent_m = _read_manifest(table_dir, now_cur) if now_cur is not None else None
    prev_counts = parent_m.get("rowcounts", {}) if parent_m else {}
    fresh_counts = fresh_counts or {}
    rowcounts: dict[str, int] = {}
    for rel in files:
        if rel in prev_counts:
            rowcounts[rel] = prev_counts[rel]
        elif rel in fresh_counts:
            rowcounts[rel] = fresh_counts[rel]
    manifest = {
        "version": version,
        # explicit lineage: the version this commit was derived from
        # (None for the initial commit; for rollback it is the
        # CURRENT version being rolled away from, while the op label
        # names the restored source version)
        "parent": now_cur,
        "op": op,
        "files": sorted(files),
        # per-file min/max skipping metadata (see _file_stats); keys
        # are a subset of "files", absent entries are unprunable
        "stats": stats or {},
        # per-file per-column bloom filters for point-lookup skipping
        # (see _file_blooms); opt-in at write/compact time, absent
        # entries are unprunable
        "blooms": blooms or {},
        # per-file row counts (subset of "files"; see above)
        "rowcounts": rowcounts,
        # the schema every file reads under (see _recorded_schema);
        # None leaves readers to infer it (_read_file_subset)
        "schema": schema,
        "committed_at": time.time(),
        # distance to the nearest full checkpoint (0 = this IS one);
        # bounds both resolution depth and the vacuum rewrite set
        "chain": 0,
    }
    # JSON-normalize BEFORE diffing/caching so tuples-vs-lists and
    # other round-trip differences can never make a delta resolve to
    # something other than what a full write would have stored.
    manifest = json.loads(json.dumps(manifest))
    if parent_m is not None and parent_m.get("chain", 0) + 1 < CHECKPOINT_INTERVAL:
        manifest["chain"] = parent_m.get("chain", 0) + 1
        payload = _encode_delta(parent_m, manifest)
    else:
        payload = manifest
    _atomic_write(
        os.path.join(_manifest_dir(table_dir), f"v{version}.json"),
        json.dumps(payload),
    )
    _atomic_write(_pointer_path(table_dir), str(version))
    # Retention-independent op-stamp log: vacuum drops old manifests,
    # but exactly-once writers (streaming sink, backfill chunks, ANN
    # adds) need their stamps FOREVER — a replayed pre-retention
    # batch must stay a no-op. Appended strictly AFTER the pointer
    # swap: a crash between swap and append re-runs one idempotent
    # merge; the reverse order would record a stamp for data that
    # never committed and silently skip it on resume.
    with open(_txns_path(table_dir), "a") as f:
        f.write(json.dumps({"version": version, "op": op}) + "\n")
    return version


def _clustered(
    df: DataFrame, cluster_by: list[str], n_files: int | None
) -> DataFrame:
    """The one clustering recipe (range partition + in-partition
    sort) shared by write_snapshot and compact, so the write-side
    and compaction-side layouts can never silently diverge."""
    parts = n_files or df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(parts, *cluster_by).sortWithinPartitions(
        *cluster_by
    )


def _write_data(table_dir: str, df: DataFrame, version_hint: int) -> list[str]:
    """Materialize df into a fresh immutable data directory; returns
    the parquet file paths (relative to table_dir)."""
    sub = os.path.join("data", f"v{version_hint}-{uuid.uuid4().hex[:8]}")
    out_dir = os.path.join(table_dir, sub)
    df.write.mode("overwrite").parquet(out_dir)
    return [
        os.path.join(sub, name)
        for name in os.listdir(out_dir)
        if name.endswith(".parquet")
    ]


def _stat_norm(v):
    """Normalize a stats/probe value onto one comparable axis:
    datetimes and dates map to epoch MICROSECONDS (tz-aware values
    via UTC — sound because session.py pins
    spark.sql.session.timeZone=UTC, so a naive probe and a
    UTC-normalized parquet stat mean the same instant); numerics and
    bools pass through. Returns None for types with no sound
    ordering contract (strings etc.) — callers treat that as
    unprunable. Applied identically to the WRITER's footer stats and
    the READER's probe bounds, so the two sides can never compare on
    different axes."""
    import datetime as _dt

    if isinstance(v, bool) or isinstance(v, (int, float)):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return int(
            (v - _dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
        )
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days * 86_400_000_000
    return None


def _file_stats(table_dir: str, files: list[str]) -> tuple[dict, dict]:
    """Per-file min/max column statistics and row counts from the
    parquet footers — the Iceberg/Delta data-skipping metadata,
    collected ONCE at write time (one local footer read per freshly
    written file; on object storage this runs in the writer, so
    readers never touch footers). Returns ``(stats, rowcounts)``;
    ``_commit`` records the counts without re-opening the footers.

    Numeric, boolean, timestamp and date columns are recorded
    (temporal values normalized to epoch microseconds via _stat_norm
    — the axis probe bounds are normalized onto too). String stats
    are deliberately excluded — parquet may truncate them and
    UTF-8-byte vs UTF-16 ordering diverges on supplementary
    characters, either of which could make pruning UNSOUND. A column
    absent from a file's stats simply keeps that file unprunable
    (conservative)."""
    import math

    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    rowcounts: dict[str, int] = {}
    for rel in files:
        try:
            meta = pq.ParquetFile(os.path.join(table_dir, rel)).metadata
        except Exception:
            continue  # unreadable footer -> file stays unprunable
        rowcounts[rel] = meta.num_rows
        cols: dict[str, list] = {}
        # once ANY row group leaves a column uncovered, it must stay
        # unprunable for the whole file — re-adding it from a later
        # row group would record a range that does not cover the
        # stat-less rows (pruning would silently drop them)
        dead: set[str] = set()
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for ci in range(group.num_columns):
                col = group.column(ci)
                name = col.path_in_schema
                if name in dead:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    cols.pop(name, None)
                    dead.add(name)
                    continue
                lo, hi = _stat_norm(st.min), _stat_norm(st.max)
                if lo is None or hi is None:
                    dead.add(name)
                    cols.pop(name, None)
                    continue
                # NaN/inf poison both the overlap comparison (NaN
                # compares False, so overlapping files get skipped —
                # data loss) and the manifest JSON (non-RFC numbers)
                if isinstance(lo, float) and not math.isfinite(lo) or (
                    isinstance(hi, float) and not math.isfinite(hi)
                ):
                    dead.add(name)
                    cols.pop(name, None)
                    continue
                if name in cols:
                    cols[name] = [min(cols[name][0], lo), max(cols[name][1], hi)]
                else:
                    cols[name] = [lo, hi]
        if cols:
            out[rel] = cols
    return out, rowcounts


# ---------------------------------------------------------------------------
# Per-file bloom filters: point-lookup data skipping (round 5)
# ---------------------------------------------------------------------------

#: Bloom geometry: 1024 bits / 4 hashes ≈ 1.2% false-positive rate at
#: ~100 distinct values per file, 2.4 KB of JSON per (file, column).
#: False positives only cost an extra file scan; false negatives are
#: impossible by construction (every present value sets its bits).
BLOOM_BITS = 1024
BLOOM_HASHES = 4
_BLOOM_WORD = 64


def _bloom_key(value) -> str | None:
    """Canonical serialization shared by the writer (add) and the
    reader (test) — a type prefix keeps 1, 1.0 and '1' distinct, the
    same discipline as the md5 contract in functions/hashing.py.
    None means 'not bloomable' (the file stays unprunable for it)."""
    if value is None:
        return None
    if isinstance(value, bool):
        return f"b:{int(value)}"
    if isinstance(value, int):
        return f"i:{value}"
    if isinstance(value, float):
        import math as _math

        if not _math.isfinite(value):
            return None
        if value == int(value):
            # integer-valued floats share the INT key so a lookup by
            # 3 and by 3.0 both find the file (SQL equality treats
            # them equal; distinct keys here would be a false
            # negative — the one failure mode a bloom must not have)
            return f"i:{int(value)}"
        return f"f:{value!r}"
    if isinstance(value, str):
        return f"s:{value}"
    if isinstance(value, bytes):
        return f"y:{value.hex()}"
    return None


def _bloom_positions(key: str) -> list[int]:
    import hashlib as _hashlib

    return [
        int(
            _hashlib.md5(f"{i}|{key}".encode()).hexdigest()[:15], 16
        ) % BLOOM_BITS
        for i in range(BLOOM_HASHES)
    ]


def _bloom_maybe_contains(bloom: dict, value) -> bool:
    """True unless the filter PROVES absence (never a false negative).

    Cross-typed probes are unprunable: Spark equality COERCES across
    types (``bigint_col = '42'`` matches 42, ``int_col = true``
    matches 1, and a string column matches a numeric probe under any
    spelling that casts to it — unenumerable), so the typed-key
    discipline that keeps 1 / '1' distinct inside the filter would
    turn those matches into FALSE NEGATIVES. The writer records the
    key-type prefixes actually present per column (``types``); a
    probe whose prefix is absent from that set conservatively keeps
    the file, mirroring the min/max stage's TypeError keep. Legacy
    blooms without a ``types`` record are treated as unprunable —
    soundness beats pruning power."""
    key = _bloom_key(value)
    if key is None:
        return True
    types = bloom.get("types")
    if types is None:
        return True  # legacy bloom: stored types unknown, keep
    if types and key.split(":", 1)[0] not in types:
        return True  # cross-typed probe: equality may coerce, keep
    words = bloom.get("words")
    bits = bloom.get("bits", BLOOM_BITS)
    if not words:
        return True
    for pos in _bloom_positions(key):
        pos %= bits
        if not (words[pos // _BLOOM_WORD] >> (pos % _BLOOM_WORD)) & 1:
            return False
    return True


def _file_blooms(table_dir: str, files: list[str], columns: list[str]) -> dict:
    """Per-file bloom filters over each column's distinct values —
    the equality-predicate complement to _file_stats' min/max ranges
    (ranges prune BETWEEN; blooms prune point lookups that fall
    INSIDE every file's range, the high-cardinality-id case where
    min/max keeps everything).

    Writer-side cost: one columnar read of each freshly written file
    (the projection touches only the bloomed columns) — the same
    moment Delta computes its stats, so readers never pay it. A
    column that fails to serialize (nested types, NaN) is simply
    absent, which readers treat as unprunable."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, dict]] = {}
    for rel in files:
        per_col: dict[str, dict] = {}
        for col in columns:
            try:
                tbl = pq.read_table(
                    os.path.join(table_dir, rel), columns=[col]
                )
            except Exception:
                continue  # unknown column / unreadable -> unprunable
            words = [0] * (BLOOM_BITS // _BLOOM_WORD)
            ok = True
            prefixes: set[str] = set()
            for v in set(tbl.column(0).to_pylist()):
                key = _bloom_key(v)
                if key is None:
                    if v is not None:
                        ok = False  # unbloomable value present
                        break
                    continue  # NULLs never match equality; skip
                prefixes.add(key.split(":", 1)[0])
                for pos in _bloom_positions(key):
                    words[pos // _BLOOM_WORD] |= 1 << (pos % _BLOOM_WORD)
            if ok:
                per_col[col] = {
                    "bits": BLOOM_BITS,
                    "k": BLOOM_HASHES,
                    "words": words,
                    # key-type prefixes present in this file's column —
                    # the reader refuses to prune a probe of any OTHER
                    # type (Spark equality coerces across types; see
                    # _bloom_maybe_contains)
                    "types": sorted(prefixes),
                }
        if per_col:
            out[rel] = per_col
    return out


def _nullable(t):
    """A schema's JSON form with every nullability flag set: what a
    parquet read reports, whatever flags the writer had."""
    if isinstance(t, list):
        return [_nullable(x) for x in t]
    if not isinstance(t, dict):
        return t
    out = {k: v if k == "metadata" else _nullable(v) for k, v in t.items()}
    for flag in ("nullable", "containsNull", "valueContainsNull"):
        if flag in out:
            out[flag] = True
    return out


def _recorded_schema(
    manifest: dict | None, carried: list[str], df: DataFrame | None
) -> dict | None:
    """The schema a new version's files read under, as nullable JSON:
    the carried files' recorded fields first, then the fields of the
    written ``df`` they lack (names match case-insensitively), the
    order a mergeSchema read over the files yields. None when the
    carried files' schema was never recorded, or when one name
    carries two types, which a reader could only resolve by guessing;
    ``_read_file_subset`` then infers the schema as before."""
    fields = []
    if carried:
        prev = manifest.get("schema")
        if prev is None:
            return None
        fields += prev["fields"]
    if df is not None:
        fields += _nullable(df.schema.jsonValue())["fields"]
    merged: dict[str, dict] = {}
    for f in fields:
        if merged.setdefault(f["name"].lower(), f)["type"] != f["type"]:
            return None
    return {"type": "struct", "fields": list(merged.values())} if merged else None


def _cow_commit(
    table_dir: str,
    df: DataFrame | None,
    base: int | None,
    op: str,
    expect_version: int | None,
    bloom_for: list[str] | None,
    manifest: dict | None = None,
    touched=(),
) -> int:
    """The one copy-on-write commit every writing verb ends in: write
    ``df`` (None writes nothing) into a fresh data directory, record
    its files' stats — and blooms on ``bloom_for`` columns, so no
    rewrite silently strips point-lookup pruning — then commit them
    next to ``manifest``'s files that are not ``touched``. Those are
    carried BY REFERENCE with their stats and blooms; ``manifest=None``
    replaces the whole content (overwrite, DDL, full compact).
    ``_commit`` carries the row counts of carried files and records
    those ``_file_stats`` read for the fresh ones; the manifest also
    records the version's schema (``_recorded_schema``), so readers
    never infer it from the files."""
    files = (
        []
        if df is None
        else _write_data(table_dir, df, (base if base is not None else -1) + 1)
    )
    stats, rowcounts = _file_stats(table_dir, files)
    blooms = _file_blooms(table_dir, files, bloom_for) if bloom_for else {}
    carried: list[str] = []
    if manifest is not None:
        gone = set(touched)
        carried = [f for f in manifest["files"] if f not in gone]
        for name, fresh in (("stats", stats), ("blooms", blooms)):
            prev = manifest.get(name, {})
            fresh.update({f: prev[f] for f in carried if f in prev})
    return _commit(
        table_dir, files + carried, op, expect_version, base, stats, blooms,
        rowcounts, _recorded_schema(manifest, carried, df),
    )


def write_snapshot(
    table_dir: str,
    df: DataFrame,
    mode: str = "overwrite",
    expect_version: int | None = None,
    cluster_by: list[str] | None = None,
    n_files: int | None = None,
    bloom_for: list[str] | None = None,
) -> int:
    """Commit df as the next snapshot. ``mode`` is ``overwrite``
    (replace logical content) or ``append`` (add to it); either way
    no existing file is touched. Returns the committed version.

    ``cluster_by`` range-partitions and sorts the data on the given
    columns before writing (optionally into ``n_files`` files), so
    each file's min/max stats cover a NARROW slice and
    ``read_snapshot(where_between=...)`` skips almost everything
    outside the queried range — the write-side half of data skipping
    (Delta OPTIMIZE ZORDER's 1-d case; sources/layout.py has the
    2-d Morton variant for raw parquet)."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    _enforce_constraints(table_dir, df, "write")
    # an overwrite REPLACES the logical content, so the incoming data
    # is the whole post-state; an append must also clear the rows it
    # joins onto
    _enforce_unique(
        table_dir, df, "write", against_existing=(mode == "append")
    )
    if cluster_by:
        df = _clustered(df, cluster_by, n_files)
    base = current_version(table_dir)
    # an append carries every base file (and its stats and blooms)
    appended_to = (
        _read_manifest(table_dir, base)
        if mode == "append" and base is not None
        else None
    )
    return _cow_commit(
        table_dir, df, base, mode, expect_version, bloom_for, appended_to
    )


def _prune_manifest(manifest: dict, column: str, lo, hi) -> list[str]:
    # probes onto the same axis the writer recorded (epoch micros
    # for temporals); un-normalizable probes fall through to the
    # TypeError keep below
    nlo, nhi = _stat_norm(lo), _stat_norm(hi)
    if nlo is not None and nhi is not None:
        lo, hi = nlo, nhi
    stats = manifest.get("stats", {})
    keep = []
    for rel in manifest["files"]:
        col = stats.get(rel, {}).get(column)
        try:
            skip = col is not None and not (col[0] <= hi and col[1] >= lo)
        except TypeError:
            # caller-supplied bound type incomparable with the stored
            # numeric/bool stats (e.g. a string bound on an int
            # column): degrade to the documented conservative
            # behavior — keep the file, never raise from a skip path
            skip = False
        if not skip:
            keep.append(rel)
    return keep


#: Max distinct scope values collected driver-side for per-value
#: merge pruning; beyond this the interval form applies.
_SCOPE_VALUES_CAP = 10_000


def _files_touching_values(manifest: dict, column: str, values: list) -> set:
    """Files that may hold ANY of ``values`` on ``column``: binary
    search of the sorted value list against each file's [min, max]
    (O(files · log values)), refined by the file's bloom when one is
    recorded. A file with NO min/max stats (string columns —
    _file_stats deliberately records only numeric/bool) falls back to
    its bloom ALONE when one exists: sound, because the bloom proves
    absence within the typed-key contract and _bloom_maybe_contains
    keeps cross-typed probes. Only files with neither stats nor bloom
    are conservatively touched — without this fallback, every
    scope_by= merge on a string key (the high-cardinality doc_id
    case blooms exist for) would degrade to a full-table rewrite."""
    import bisect

    norm = [_stat_norm(v) for v in values]
    try:
        svals = None if any(n is None for n in norm) else sorted(norm)
    except TypeError:
        svals = None  # mixed/incomparable types: interval-of-nothing
    stats = manifest.get("stats", {})
    blooms = manifest.get("blooms", {})
    touched = set()
    for rel in manifest["files"]:
        col = stats.get(rel, {}).get(column)
        bloom = blooms.get(rel, {}).get(column)
        if col is None or svals is None:
            if bloom is None or any(
                _bloom_maybe_contains(bloom, v) for v in values
            ):
                touched.add(rel)
            continue
        lo, hi = col
        try:
            i = bisect.bisect_left(svals, lo)
            in_range = svals[i : bisect.bisect_right(svals, hi)]
        except TypeError:
            touched.add(rel)  # incomparable bound types: conservative
            continue
        if not in_range:
            continue
        if bloom is None or any(
            _bloom_maybe_contains(bloom, v) for v in in_range
        ):
            touched.add(rel)
    return touched


def files_for_range(
    table_dir: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[list[str], int]:
    """Data-skipping plan: the subset of ``version``'s files whose
    [min, max] stats for ``column`` overlap [lo, hi], plus the total
    file count. Files with no recorded stats for the column are
    INCLUDED (conservative — skipping must never lose rows)."""
    version = _committed_version(table_dir) if version is None else version
    manifest = _read_manifest(table_dir, version)
    return _prune_manifest(manifest, column, lo, hi), len(manifest["files"])


def files_for_point(
    table_dir: str,
    column: str,
    value,
    version: int | None = None,
) -> tuple[list[str], int]:
    """Point-lookup skipping plan: min/max range pruning at the
    degenerate [value, value] interval, then bloom-filter membership
    for files that carry a bloom on the column (write_snapshot/
    compact ``bloom_for=``). Files without a bloom survive the
    second stage untouched — both stages are prune-only and can
    never lose a row. At 100 TB this is the difference between a
    key lookup scanning the table and scanning ~one file."""
    version = _committed_version(table_dir) if version is None else version
    manifest = _read_manifest(table_dir, version)
    keep = _prune_manifest(manifest, column, value, value)
    blooms = manifest.get("blooms", {})
    keep = [
        rel
        for rel in keep
        if column not in blooms.get(rel, {})
        or _bloom_maybe_contains(blooms[rel][column], value)
    ]
    return keep, len(manifest["files"])


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    where_between: tuple | None = None,
    where_eq: tuple | None = None,
    tag: str | None = None,
    published: bool = False,
) -> DataFrame:
    """Read the table at ``version`` (default: current) — time travel
    is just resolving an older manifest's file list. ``tag`` reads a
    named tagged version (tag_snapshot) — the reproducible-training
    read: tags survive vacuum, so this resolves for as long as the
    tag exists.

    ``where_between=(column, lo, hi)`` additionally applies
    manifest-level DATA SKIPPING: only files whose min/max stats
    overlap the range are planned at all (the Iceberg/Delta read
    path — at 100 TB this is the difference between scanning the
    table and scanning the slice), and the exact BETWEEN filter is
    applied on top so results equal a full-scan filter exactly.

    ``where_eq=(column, value)`` is the point-lookup form: min/max
    pruning at [value, value] plus per-file BLOOM membership for
    files written with ``bloom_for=[column]`` — the case range stats
    cannot help (a scattered id sits inside every file's range), and
    the exact equality filter on top."""
    cur = _committed_version(table_dir)
    if sum(x is not None for x in (version, tag)) + bool(published) > 1:
        raise ValueError("pass at most one of version=, tag=, published=")
    if tag is not None:
        tags = list_tags(table_dir)
        if tag not in tags:
            raise KeyError(f"no tag {tag!r} on {table_dir}")
        version = tags[tag]
    if published:
        version = published_version(table_dir)
        if version is None:
            raise ValueError(
                f"{table_dir} was never published — consumers reading "
                "published=True see nothing until the first "
                "publish_snapshot (the write-audit-publish gate)"
            )
    version = cur if version is None else version
    manifest = _read_manifest(table_dir, version)
    if where_eq is not None and where_between is not None:
        raise ValueError("pass where_between OR where_eq, not both")
    if where_eq is not None:
        column, value = where_eq
        if value is None or (isinstance(value, float) and value != value):
            raise ValueError(
                "where_eq needs a non-NULL, non-NaN value (SQL equality "
                "never matches them); filter explicitly instead"
            )
        keep, _total = files_for_point(table_dir, column, value, version)
    elif where_between is not None:
        column, lo, hi = where_between
        keep = _prune_manifest(manifest, column, lo, hi)
    else:
        return _read_file_subset(spark, table_dir, manifest, manifest["files"])
    df = _read_file_subset(spark, table_dir, manifest, keep)
    if not keep:
        # every file skipped: the version's schema survives (a single
        # file may predate a schema-evolving commit) under 1=0 — no
        # row group is read
        return df
    if column not in df.columns:
        # every kept file predates the column (schema evolution, in a
        # manifest without a recorded schema): those rows read NULL
        # there, and NULL matches no probe — empty result under the
        # version's schema
        return _read_file_subset(spark, table_dir, manifest, [])
    c = df[column]
    hit = c == value if where_eq is not None else (c >= lo) & (c <= hi)
    return df.where(hit)


def rollback(table_dir: str, version: int) -> int:
    """Make an old version current again — committed as a NEW
    snapshot whose file list is the old one (history is append-only;
    nothing is deleted, so the rolled-back-over version remains
    readable).

    Refused when it would re-point content from BEFORE a CHECK
    constraint's validation scan (``since_version``): rollback is a
    file-level op that re-checks nothing, so restoring pre-validation
    content would silently break the "every version ≥ since_version
    satisfies the constraint" induction that version-pinned consumers
    (the /sql MV rewrite's NOT-NULL gate) rely on. Drop the
    constraint first if the restore is intended."""
    for cname, rec in constraint_records(table_dir).items():
        since = rec["since_version"]
        if since is not None and version < since:
            raise ConstraintViolation(
                f"rollback to v{version} would restore content from "
                f"before constraint {cname!r} was validated at "
                f"v{since} — drop the constraint first"
            )
    base = current_version(table_dir)
    restored = _read_manifest(table_dir, version)
    return _commit(
        table_dir,
        restored["files"],
        f"rollback:v{version}",
        None,
        base,
        restored.get("stats", {}),
        restored.get("blooms", {}),
        schema=restored.get("schema"),
    )


def merge_snapshot(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: str | list[str] | tuple[str, ...],
    expect_version: int | None = None,
    op: str = "merge",
    scope_by: str | None = None,
    bloom_for: list[str] | None = None,
) -> int:
    """MERGE (upsert) by key(s): copy-on-write — rows whose key
    appears in ``updates`` are replaced, new keys are inserted,
    everything else is carried forward into a fresh data directory.
    On an empty table this degenerates to the initial overwrite
    commit.

    ``scope_by`` (must be one of the merge keys) turns this into the
    FILE-SCOPED rewrite: the updates' [min, max] on that key is
    compared against the manifest's per-file stats, and only files
    whose range OVERLAPS the updates are read and rewritten — every
    other file is carried into the new manifest BY REFERENCE,
    keeping its stats and blooms. On a key-clustered table this is
    the Delta/Iceberg merge cost model: a few-row upsert touches
    O(matching files), not O(table) — at 100 TB the difference
    between rewriting gigabytes and rewriting everything. Sound
    because any existing row matching an update key holds that key's
    scope value, which lies inside the updates' range; files without
    stats on the key are conservatively treated as overlapping.
    Requires scope_by ∈ key: scoping on a non-key column could leave
    a matching key in an untouched file (duplicate after merge).

    ``op`` is recorded in the manifest — idempotent writers (the
    streaming sink) stamp their transaction id here and consult
    ``committed_ops`` before retrying, the Delta txn-version
    protocol in miniature.

    Schema evolution: ``updates`` may carry columns the table lacks
    (existing rows read NULL in them from this version on) and may
    omit columns the table has (upserted rows hold NULL there — rows
    are replaced whole, never column-patched). Earlier versions keep
    their own schema under time travel; a version whose files differ
    in columns reads under the schema its commit recorded (the
    merged one). NOTE scope_by + a schema-ADDING update rewrites
    only the touched files, so untouched-file rows read NULL in the
    new column exactly as the full rewrite would produce.

    ``updates`` is computed once (``materialized``): the scope probe,
    the constraint checks, the anti-join and the written rows all see
    the same rows, so a source that is not deterministic cannot give
    the probe one key set and the write another (which would leave a
    written key's old row in an untouched file)."""
    keys = [key] if isinstance(key, str) else list(key)
    if scope_by is not None and scope_by not in keys:
        raise ValueError(
            f"scope_by {scope_by!r} must be one of the merge keys {keys} — "
            "scoping on a non-key column could strand a matching key in "
            "an untouched file and duplicate it"
        )
    with materialized(updates) as updates:
        _enforce_constraints(table_dir, updates, "merge updates")
        _enforce_unique(
            table_dir,
            updates,
            "merge updates",
            against_existing=True,
            exempt_merge_keys=keys,
        )
        base = current_version(table_dir)
        if base is None:
            return _cow_commit(
                table_dir, updates, base, op, expect_version, bloom_for
            )
        manifest = _read_manifest(table_dir, base)
        if scope_by is None:
            touched = set(manifest["files"])
        else:
            touched = _scoped_candidates(
                updates, scope_by, manifest, "updates"
            )
            if touched is None:
                raise ValueError("updates are empty — nothing to merge")
        # no touched file: no existing file can hold a matching key,
        # so the merge is a pure insert
        current = _read_file_subset(spark, table_dir, manifest, sorted(touched))
        kept = current.join(updates.select(*keys), on=keys, how="left_anti")
        # allowMissingColumns = schema evolution on MERGE: updates may
        # ADD columns (carried-forward rows read NULL there — the Delta
        # mergeSchema behavior) or omit existing ones (inserted rows get
        # NULL; they are whole-row upserts, not partial column patches —
        # documented in the docstring)
        merged = kept.unionByName(updates, allowMissingColumns=True)
        return _cow_commit(
            table_dir, merged, base, op, expect_version, bloom_for, manifest,
            touched,
        )


def _finding_scan(
    spark: SparkSession,
    table_dir: str,
    manifest: dict,
    candidates: list[str],
    matching,
) -> list[str]:
    """The delete/update finding scan: which ``candidates`` hold at
    least one row that ``matching(df)`` keeps. One pushed-down scan
    (row-group-stat pruned) tags each row with its source file AT
    SCAN TIME — after a join/exchange a row loses scan lineage and
    ``input_file_name()`` returns '' — and one bounded driver collect
    returns a row per FILE, never per data row.

    Spark reports percent-encoded ``file:`` URIs (a space in
    table_dir arrives as ``%20``), so each hit is URL-decoded before
    resolving back to a manifest-relative path; an empty string (scan
    lineage lost) or a path outside the candidate set is a protocol
    violation and raises loudly rather than silently mis-planning an
    erasure. Returns the touched files sorted, as manifests list them."""
    from urllib.parse import unquote, urlsplit

    from pyspark.sql import functions as F

    if not candidates:
        return []
    cand = _read_file_subset(
        spark, table_dir, manifest, candidates
    ).withColumn("_src_file", F.input_file_name())
    hit_uris = {
        r[0] for r in matching(cand).select("_src_file").distinct().collect()
    }
    by_abs = {
        os.path.abspath(os.path.join(table_dir, rel)): rel
        for rel in candidates
    }
    out = []
    for uri in hit_uris:
        if not uri:
            raise RuntimeError(
                "input_file_name() returned '' — scan lineage lost; "
                "refusing to plan the rewrite"
            )
        path = uri
        if path.startswith("file:"):
            path = unquote(urlsplit(path).path)
        rel = by_abs.get(os.path.abspath(path))
        if rel is None:
            raise RuntimeError(
                f"scan path {uri!r} does not resolve into the candidate "
                "file set"
            )
        out.append(rel)
    return sorted(out)


def _scoped_candidates(df: DataFrame, column: str, manifest: dict, label: str):
    """Shared scoped-pruning protocol (merge_snapshot scope_by= and
    delete_snapshot keys+scope_by=): the touched-file set for the
    values ``df`` carries on ``column``. One bounded sorted collect —
    the first _SCOPE_VALUES_CAP + 1 values, NULLs first — answers the
    common trickle batch in a single Spark job: a NULL anywhere sorts
    into the first row (exact, so a silently matched NULL key — the
    outcome the guard exists to reject — cannot slip past the cap),
    and a head shorter than the cap holds every value, pruned per
    VALUE. Only a full head falls back to a capped distinct collect:
    per-value pruning when at most _SCOPE_VALUES_CAP values are
    distinct, else the [min, max] interval form. Returns None when
    ``df`` is empty (the caller decides whether empty input is an
    error or a no-op)."""
    from pyspark.sql import functions as F

    head = [
        r[0]
        for r in df.select(column)
        .orderBy(F.col(column).asc_nulls_first())
        .limit(_SCOPE_VALUES_CAP + 1)
        .collect()
    ]
    if not head:
        return None
    if head[0] is None:
        raise ValueError(
            f"{label} carry NULL {column!r} values — NULL keys never "
            "match; filter them upstream"
        )
    if len(head) <= _SCOPE_VALUES_CAP:
        # sorted, so duplicates are adjacent
        vals = [v for i, v in enumerate(head) if i == 0 or v != head[i - 1]]
        return _files_touching_values(manifest, column, vals)
    vals = [
        r[0]
        for r in df.select(column)
        .distinct()
        .limit(_SCOPE_VALUES_CAP + 1)
        .collect()
    ]
    if len(vals) <= _SCOPE_VALUES_CAP:
        return _files_touching_values(manifest, column, vals)
    row = df.agg(
        F.min(column).alias("lo"), F.max(column).alias("hi")
    ).collect()[0]
    return set(_prune_manifest(manifest, column, row["lo"], row["hi"]))


def delete_snapshot(
    spark: SparkSession,
    table_dir: str,
    where: str | None = None,
    *,
    keys: DataFrame | None = None,
    key: str | list[str] | tuple[str, ...] | None = None,
    scope_by: str | None = None,
    expect_version: int | None = None,
    op: str = "delete",
    bloom_for: list[str] | None = None,
) -> int:
    """Row-level DELETE, copy-on-write — the Delta/Iceberg COW delete
    algorithm: one pushed-down scan finds the files that actually
    hold matching rows (``_finding_scan`` under the predicate),
    ONLY those files are rewritten without the matches, and every
    other file is carried into the new manifest BY REFERENCE with its
    stats and blooms intact. At 100 TB a targeted erasure (the
    GDPR/right-to-be-forgotten case) costs O(matching files), not
    O(table) — and the finding scan itself is pruned by parquet
    row-group stats under predicate pushdown.

    Two forms, exactly one of which must be given:

    - ``where``: a SQL boolean expression; rows where it is TRUE are
      deleted (FALSE and NULL rows are kept — SQL DELETE three-valued
      semantics).
    - ``keys`` + ``key``: delete every row whose key value(s) appear
      in the ``keys`` DataFrame (the erasure-list form). ``scope_by``
      (one of the key columns) additionally prunes the candidate
      files with manifest stats + blooms BEFORE the finding scan,
      exactly as merge_snapshot's scoped path — so the scan itself
      reads O(candidate files).

    A delete is always committed (even when nothing matched) so the
    ``op`` stamp lands in the retention-independent ``_txns`` log —
    an idempotent eraser checks ``committed_ops`` before replaying,
    and an auditor can prove WHEN the erasure happened. Old versions
    still serve the deleted rows under time travel until ``vacuum``
    drops them — physical erasure is delete + vacuum, and that pair
    is what an erasure SLA measures.
    """
    from pyspark.sql import functions as F

    if (where is None) == (keys is None):
        raise ValueError("pass exactly one of where= or keys=")
    if where is not None and (key is not None or scope_by is not None):
        raise ValueError(
            "key=/scope_by= apply only to the keys= form — with where= "
            "they would be silently ignored (the finding scan is pruned "
            "by parquet row-group stats, not the manifest)"
        )
    if keys is not None and key is None:
        raise ValueError("keys= requires key= (the join column names)")
    base = _committed_version(table_dir)
    manifest = _read_manifest(table_dir, base)
    candidates = manifest["files"]

    key_cols = (
        [key] if isinstance(key, str) else list(key) if key else []
    )
    if keys is not None and scope_by is not None and scope_by not in key_cols:
        raise ValueError(
            f"scope_by {scope_by!r} must be one of the key columns "
            f"{key_cols}"
        )
    # ONE materialized distinct key set for every job below (the
    # NULL/scope collects, the finding scan's semi join, and the
    # rewrite's anti join): without it each Spark action would
    # re-evaluate the caller's plan, and a non-deterministic source
    # (re-read external table, limit/sample) could make the finding
    # scan and the rewrite disagree — deleting against one key set
    # while stamping the erasure for another.
    with (
        contextlib.nullcontext()
        if keys is None
        else materialized(keys.select(*key_cols).distinct())
    ) as keys_d:
        if keys_d is not None and scope_by is not None:
            scoped = (
                _scoped_candidates(keys_d, scope_by, manifest, "keys")
                or set()
            )
            candidates = [f for f in candidates if f in scoped]

        if where is not None:
            touched = _finding_scan(
                spark, table_dir, manifest, candidates,
                lambda c: c.where(F.expr(where)),
            )
        else:
            # no broadcast hint: erasure lists are usually tiny and AQE
            # broadcasts them at runtime, but a bulk purge list may not
            # be — forcing broadcast would OOM the executors
            touched = _finding_scan(
                spark, table_dir, manifest, candidates,
                lambda c: c.join(keys_d, on=key_cols, how="left_semi"),
            )
        kept = None
        if touched:
            sub = _read_file_subset(spark, table_dir, manifest, touched)
            if where is not None:
                # DELETE removes rows where the predicate is TRUE; FALSE
                # and NULL both keep (coalesce supplies the NULL arm)
                kept = sub.where(F.coalesce(~F.expr(where), F.lit(True)))
            else:
                kept = sub.join(keys_d, on=key_cols, how="left_anti")
        return _cow_commit(
            table_dir, kept, base, op, expect_version, bloom_for, manifest,
            touched,
        )


def update_snapshot(
    spark: SparkSession,
    table_dir: str,
    where: str,
    set: dict[str, str],
    *,
    expect_version: int | None = None,
    op: str = "update",
    bloom_for: list[str] | None = None,
) -> int:
    """Row-level UPDATE, copy-on-write — the remaining DML verb next
    to write/append/merge_snapshot/delete_snapshot, with the same
    Delta/Iceberg COW cost model: one pushed-down finding scan
    (``_finding_scan`` under the predicate, row-group-stat
    pruned) identifies the files holding rows where ``where`` is
    TRUE; ONLY those files rewrite with the ``set`` assignments
    applied to the matching rows, every other file carries into the
    new manifest BY REFERENCE with stats and blooms intact. At
    100 TB a targeted correction costs O(matching files), not
    O(table).

    ``set`` maps existing column → SQL expression. All assignment
    expressions are evaluated against the PRE-update row in one
    projection (standard SQL UPDATE semantics: ``SET a = b, b = a``
    swaps, it does not chain). UPDATE cannot add columns — use a
    schema-evolving merge for that; unknown targets raise before
    anything is written. Rows where ``where`` is FALSE or NULL are
    kept verbatim (three-valued semantics, delete_snapshot's rule).

    CHECK constraints are enforced on the post-update rows of the
    rewritten subset before commit (untouched files already passed
    at their own write time — add_constraint validates existing
    rows at ALTER time, so the invariant is inductive).

    Always commits (even a zero-match update) so the ``op`` stamp
    lands in the retention-independent ``_txns`` log — idempotent
    correction jobs check ``committed_ops`` before replaying, and
    time travel serves the pre-update rows until ``vacuum``.
    """
    from pyspark.sql import functions as F

    if not set:
        raise ValueError("set= must assign at least one column")
    base = _committed_version(table_dir)
    manifest = _read_manifest(table_dir, base)
    if not manifest["files"]:
        # No files ⇒ no schema to validate ``set`` targets against: a
        # typo'd target would otherwise pass silently and commit a
        # no-op version (r7 ADVICE). An empty table has nothing to
        # update anyway — loud beats a stamp that looks applied.
        raise ValueError(
            f"cannot UPDATE {table_dir} at v{base}: the manifest holds "
            "no data files, so set targets cannot be validated against "
            "the table schema (and there are no rows to update)"
        )

    # case-insensitive: SET targets resolve against the schema with
    # Spark's insensitive rules, so 'PK' assigns the 'pk' column and
    # must trip the refusal just the same (r10 ADVICE medium #2)
    set_lower = {k.lower() for k in set}
    uniq_targets = {
        rec["col"]
        for rec in unique_constraint_records(table_dir).values()
        if rec["col"].lower() in set_lower
    }
    if uniq_targets:
        raise ConstraintViolation(
            f"UPDATE assigns UNIQUE-constrained column(s) "
            f"{sorted(uniq_targets)}: proving post-update uniqueness "
            "would cost a full-table scan per update — re-key through "
            "merge_snapshot keyed on the unique column instead"
        )
    table_types: dict = {}

    def matching(cand: DataFrame) -> DataFrame:
        # SET targets are checked against the table's schema before
        # the scan runs
        table_types.update(
            (f.name, f.dataType) for f in cand.drop("_src_file").schema
        )
        unknown = [k for k in set if k not in table_types]
        if unknown:
            raise ValueError(
                f"set targets {sorted(unknown)} not in table columns "
                f"{list(table_types)} — UPDATE cannot add columns (use a "
                "schema-evolving merge_snapshot)"
            )
        return cand.where(F.expr(where))

    touched = _finding_scan(
        spark, table_dir, manifest, manifest["files"], matching
    )
    updated = None
    if touched:
        sub = _read_file_subset(spark, table_dir, manifest, touched)
        # Schema evolution: under a recorded schema the subset read
        # has every column of the table. A manifest without one reads
        # the touched files' own merged schema, where a set target can
        # be absent even though the table (mergeSchema over all
        # candidates) has it — e.g. the matching rows live in a file
        # written before a schema-widening merge. Materialize such
        # columns as typed NULLs first, so the assignment applies
        # instead of silently dropping (the rewritten file then
        # carries the column, exactly as a full-table rewrite would).
        for c in set:
            if c not in sub.columns:
                sub = sub.withColumn(c, F.lit(None).cast(table_types[c]))
        cond = F.coalesce(F.expr(where), F.lit(False))
        # ONE projection: every assignment sees the pre-update row
        updated = sub.select(
            *(
                F.when(cond, F.expr(set[c])).otherwise(F.col(c)).alias(c)
                if c in set
                else F.col(c)
                for c in sub.columns
            )
        )
        _enforce_constraints(table_dir, updated, "update")
    return _cow_commit(
        table_dir, updated, base, op, expect_version, bloom_for, manifest,
        touched,
    )


def drop_columns(
    spark: SparkSession,
    table_dir: str,
    cols: list[str],
    *,
    expect_version: int | None = None,
    op: str | None = None,
    bloom_for: list[str] | None = None,
) -> int:
    """ALTER TABLE DROP COLUMN, copy-on-write — the FULL-REWRITE
    policy, stated as a contract (round 7, VERDICT r6 #7):

    Every live file is rewritten without the dropped columns in ONE
    O(table) commit; no carryover file in the new version (or any
    later one) retains the column. The alternative — a metadata-only
    logical drop (Delta/Iceberg column mapping) — taxes EVERY future
    read, diff, and merge with a visible↔physical name mapping and
    leaves the "dropped" bytes in live files indefinitely; this
    layer takes the one-time rewrite instead (exactly Delta's
    behavior before column mapping existed), which for the GDPR
    column-erasure case is also the only answer that actually
    removes the data from live storage.

    Time travel is unaffected: pre-drop versions keep serving the
    column until ``vacuum`` reclaims them — column erasure completes
    (and is certifiable) only after vacuum, the row-delete rule.
    ``snapshot_diff`` across the drop aligns schemas (missing →
    NULL), so rows whose only change is losing a non-NULL value in
    the dropped column surface as updates — pinned in tests.

    A registered CHECK constraint that references a dropped column
    no longer resolves: the drop REFUSES (loudly, before writing
    anything) until the constraint is dropped or redefined. A later
    merge of data still carrying the old column re-ADDS it by
    schema evolution — writers must be migrated with the table
    (documented, pinned)."""
    base = _committed_version(table_dir)
    if not cols:
        raise ValueError("cols must name at least one column to drop")
    cur = read_snapshot(spark, table_dir)
    lower = {c.lower(): c for c in cur.columns}
    missing = [c for c in cols if c.lower() not in lower]
    if missing:
        raise ValueError(
            f"cannot drop {sorted(missing)}: not in table columns "
            f"{cur.columns}"
        )
    dropped = {c.lower() for c in cols}
    remaining = [c for c in cur.columns if c.lower() not in dropped]
    if not remaining:
        raise ValueError(
            "cannot drop every column — delete the table instead"
        )
    return _schema_rewrite(
        spark, table_dir, base, cur.select(*remaining), dropped,
        "dropped",
        op or ("drop-columns:" + ",".join(sorted(dropped))),
        expect_version, bloom_for,
    )


def _schema_rewrite(
    spark: SparkSession,
    table_dir: str,
    base: int,
    out_df: DataFrame,
    changed: set[str],
    word: str,
    op: str,
    expect_version: int | None,
    bloom_for: list[str] | None,
) -> int:
    """The shared body of drop_columns and rename_column: refuse while
    any CHECK or UNIQUE constraint names a ``changed`` (lower-cased)
    column (``word`` says how it changed), then rewrite every live
    file as ``out_df`` in one commit."""
    from pyspark.sql import functions as F

    # probe constraint resolution against a PLAN-BOUNDARY frame of
    # the post-DDL schema: probing out_df directly would let Spark's
    # missing-reference resolution reach the dropped column through
    # the Project's child and pass the check it must fail
    probe = spark.createDataFrame([], out_df.schema)
    for name, expr in list_constraints(table_dir).items():
        try:
            probe.where(F.expr(expr) == False)  # noqa: E712
        except Exception:
            raise ValueError(
                f"constraint {name!r} ({expr}) references a {word} "
                "column — drop_constraint or redefine it first"
            ) from None
    # UNIQUE constraints are not boolean expressions, so the probe
    # above never sees them — refuse explicitly, or the record would
    # survive the DDL with since_version intact while enforcement
    # silently skips (col gone), and re-adding a column by that name
    # would revive a stale 1:≤1 proof for the /sql join rewrite
    # (r10 ADVICE medium #1).
    for name, rec in unique_constraint_records(table_dir).items():
        if rec["col"].lower() in changed:
            raise ValueError(
                f"UNIQUE constraint {name!r} is declared on {word} "
                f"column {rec['col']!r} — drop_constraint or redefine "
                "it first"
            )
    return _cow_commit(table_dir, out_df, base, op, expect_version, bloom_for)


def rename_column(
    spark: SparkSession,
    table_dir: str,
    old: str,
    new: str,
    *,
    expect_version: int | None = None,
    op: str | None = None,
    bloom_for: list[str] | None = None,
) -> int:
    """ALTER TABLE RENAME COLUMN, copy-on-write — same full-rewrite
    policy and rationale as ``drop_columns`` (one O(table) commit,
    no name-mapping tax on every later read/diff/merge). Pre-rename
    versions keep the old name under time travel; ``snapshot_diff``
    across the rename sees old-name → NULL and new-name ← value in
    the aligned schema, so every row with a non-NULL value surfaces
    as an update (rename is NOT diff-transparent — a CDC consumer
    must migrate with the table; pinned in tests). Constraints
    referencing the old name refuse the rename, like drop."""
    base = _committed_version(table_dir)
    cur = read_snapshot(spark, table_dir)
    lower = {c.lower(): c for c in cur.columns}
    if old.lower() not in lower:
        raise ValueError(
            f"cannot rename {old!r}: not in table columns {cur.columns}"
        )
    if new.lower() in lower:
        raise ValueError(
            f"cannot rename {old!r} to {new!r}: target already exists"
        )
    if not new or not new.replace("_", "").isalnum() or new[0].isdigit():
        raise ValueError(f"new column name {new!r} is not an identifier")
    return _schema_rewrite(
        spark, table_dir, base,
        cur.withColumnRenamed(lower[old.lower()], new), {old.lower()},
        "renamed",
        op or f"rename-column:{lower[old.lower()]}->{new}",
        expect_version, bloom_for,
    )


def _txns_records(table_dir: str) -> list[tuple[int, str]] | None:
    """The ``_txns`` log's (version, op) records in file (application)
    order, or None when the table has no log. Blank lines and a torn
    tail from a crashed append are skipped; a ``compact_txns`` summary
    record is unfolded in place (its entries keep application order,
    last occurrence per op)."""
    txns = _txns_path(table_dir)
    if not os.path.exists(txns):
        return None
    records: list[tuple[int, str]] = []
    with open(txns) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if rec.get("compacted"):
                records.extend((v, op) for v, op in rec["records"])
            else:
                records.append((rec["version"], rec["op"]))
    return records


def committed_op_records(table_dir: str) -> list[tuple[int, str]]:
    """(version, op) records in APPLICATION order — the order commits
    actually happened, NOT numeric version order.

    The two differ exactly when ``rollback`` re-points a table at an
    earlier state: the log then reads ...v5, v3... and a consumer that
    tracks "last applied" (ivm.maintain_rollup) must see v3 as latest
    — sorting by version would pin it at v5 forever and re-apply the
    same delta every tick (the r4 ADVICE corruption scenario).

    Source of truth is the retention-independent ``_txns`` log in
    file (append) order; manifest-only versions (pre-log tables, or
    the rare crash between pointer swap and log append) are merged in
    at their version position relative to logged versions."""
    logged = _txns_records(table_dir) or []
    seen = {v for v, _ in logged}
    unlogged = sorted(
        (h["version"], h["op"]) for h in history(table_dir)
        if h["version"] not in seen
    )
    if not logged:
        return unlogged
    # Splice each unlogged version before the first logged record
    # with a greater version (its commit necessarily preceded it —
    # versions are monotone at commit time; only rollback re-visits
    # state, never version numbers).
    records: list[tuple[int, str]] = []
    ui = 0
    for v, op in logged:
        while ui < len(unlogged) and unlogged[ui][0] < v:
            records.append(unlogged[ui])
            ui += 1
        records.append((v, op))
    records.extend(unlogged[ui:])
    return records


def committed_ops(table_dir: str) -> list[str]:
    """Every committed op label, oldest version first — the lookup an
    idempotent (exactly-once) writer replays membership against.

    Reads the retention-independent ``_txns`` log UNION the retained
    manifests (tables written before the log existed have only the
    latter), so vacuum never truncates the exactly-once window: a
    backfill chunk or streaming batch committed before an aggressive
    vacuum still reads as done. Order is numeric-version for display
    stability; order-sensitive consumers use committed_op_records."""
    return [
        op
        for _, op in sorted(
            committed_op_records(table_dir), key=lambda t: t[0]
        )
    ]


def _txns_records_and_cut(table_dir: str):
    """Shared planner for compact_txns and its dry-run: the expanded
    (version, op) record list (summary line unfolded) and the length
    of the maximal prefix whose versions all predate the oldest
    retained manifest. (None, 0) when no log exists."""
    records = _txns_records(table_dir)
    if records is None:
        return None, 0
    mdir = _manifest_dir(table_dir)
    retained = (
        {
            int(_MANIFEST_RE.match(n).group(1))
            for n in _manifest_names(mdir)
        }
        if os.path.isdir(mdir)
        else set()
    )
    oldest = min(retained) if retained else None
    cut = 0
    if oldest is not None:
        while cut < len(records) and records[cut][0] < oldest:
            cut += 1
    return records, cut


def compact_txns_plan(table_dir: str) -> dict:
    """DRY-RUN of ``compact_txns`` (loss-free mode): current record
    count, the foldable-prefix length, the distinct ops that prefix
    folds to, and the projected post-compaction count — the number a
    maintenance daemon polls (table_maintenance_report) to decide
    whether the op-stamp log is worth rewriting. Pure file
    arithmetic; no lock needed for a dry run (a racing append only
    makes the estimate conservative)."""
    records, cut = _txns_records_and_cut(table_dir)
    if records is None:
        return {
            "records": 0,
            "foldable_prefix": 0,
            "folded_to": 0,
            "projected": 0,
        }
    prefix = records[:cut]
    folded = len({op for _, op in prefix})
    return {
        "records": len(records),
        "foldable_prefix": cut,
        "folded_to": folded,
        "projected": folded + (len(records) - cut),
    }


def compact_txns(
    table_dir: str, keep_stamps_since: int | None = None
) -> dict:
    """Compact the append-only ``_txns`` op-stamp log, which grows
    one record per commit FOREVER by design (retention-independent
    exactly-once). Explicit maintenance like ``vacuum``; the default
    mode is loss-free:

    - The maximal PREFIX of records whose versions all predate the
      oldest retained manifest is folded into one summary record,
      deduplicated by op string keeping the LAST occurrence — set
      membership (the exactly-once check) and relative order (what
      ivm's last-applied logic reads) are both preserved exactly,
      so a replayed pre-retention batch still reads as done. What
      shrinks: repeated generic ops ("merge" × N → 1) and the
      per-line JSON overhead.
    - Records at or after the first still-retained version are kept
      verbatim — folding across them could reorder around a
      rollback's non-monotone versions.
    - ``keep_stamps_since`` additionally DROPS folded records with
      version < that horizon. This is the operator-asserted bound
      ("no replay reaches back past v{N}" — e.g. the streaming
      checkpoint can only redeliver its last batch); without it the
      distinct-stamp set is retained forever, as the exactly-once
      contract requires.

    Atomic (tmp + os.replace) under the table lock, so a racing
    commit either appends before the snapshot read or after the
    swap — never into the torn middle. Idempotent: a second pass
    with the same arguments is a byte-level no-op."""
    with _table_lock(table_dir):
        records, cut = _txns_records_and_cut(table_dir)
        if records is None:
            return {"before": 0, "after": 0, "dropped_stamps": 0}
        before = len(records)
        prefix, tail = records[:cut], records[cut:]
        dropped = 0
        if keep_stamps_since is not None:
            kept_prefix = [
                r for r in prefix if r[0] >= keep_stamps_since
            ]
            dropped = len(prefix) - len(kept_prefix)
            prefix = kept_prefix
        # dedup by op, keeping the LAST occurrence (a subsequence of
        # the original order, so last-applied consumers see the same
        # final state)
        last_pos = {op: i for i, (_, op) in enumerate(prefix)}
        folded = [
            [v, op]
            for i, (v, op) in enumerate(prefix)
            if last_pos[op] == i
        ]
        lines = [{"compacted": True, "records": folded}] if folded else []
        lines += [{"version": v, "op": op} for v, op in tail]
        _atomic_write(
            _txns_path(table_dir), "".join(json.dumps(r) + "\n" for r in lines)
        )
        return {
            "before": before,
            "after": len(folded) + len(tail),
            "dropped_stamps": dropped,
        }


def compact(
    spark: SparkSession,
    table_dir: str,
    target_files: int = 1,
    expect_version: int | None = None,
    cluster_by: list[str] | None = None,
    bloom_for: list[str] | None = None,
    only_below: int | None = None,
) -> int:
    """Rewrite the current snapshot into ``target_files`` files — the
    small-file maintenance pass for append/streaming-heavy tables.
    Logical content is unchanged (asserted by the caller's tests);
    old files stay readable for older versions.

    ``only_below`` restricts the rewrite to files SMALLER than that
    byte size: right-sized files carry into the new manifest BY
    REFERENCE with their stats/blooms intact, so the pass costs
    O(small files), not O(table) — exactly the operation
    ``compaction_plan`` prices (its ``est_files_after`` assumes this
    mode). Without it, every current file rewrites.

    ``cluster_by`` additionally range-sorts the rewrite (Delta
    OPTIMIZE ZORDER's 1-d analog): streaming appends land in
    arrival order, so their per-file stats overlap everywhere and
    prune nothing — one clustered compaction afterwards makes the
    same manifest stats disjoint and range reads selective again."""
    manifest, touched = None, []
    if only_below is None:
        base = current_version(table_dir)
        df = read_snapshot(spark, table_dir)
    else:
        base = _committed_version(table_dir)
        manifest = _read_manifest(table_dir, base)
        touched = [
            rel
            for rel in manifest["files"]
            if os.path.getsize(os.path.join(table_dir, rel)) < only_below
        ]
        # nothing below the threshold writes nothing but still commits
        # (stamped), so an idempotent maintenance job observes its tick
        df = (
            _read_file_subset(spark, table_dir, manifest, touched)
            if touched
            else None
        )
    if df is not None:
        df = (
            _clustered(df, cluster_by, target_files)
            if cluster_by
            else df.coalesce(target_files)
        )
    return _cow_commit(
        table_dir, df, base, "compact", expect_version, bloom_for, manifest,
        touched,
    )


def compaction_plan(
    table_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    version: int | None = None,
) -> dict:
    """DRY-RUN of ``compact(only_below=target_bytes,
    target_files=<est>)``: which of the current (or pinned)
    version's files sit below ``target_bytes`` and what merging
    JUST the small set would buy (right-sized files carry by
    reference in that mode, so the estimate prices the operation
    the verb actually performs) — the auto-OPTIMIZE scheduling
    input (Delta's OPTIMIZE file-selection heuristic as a report).
    Manifest-listed files that cannot be stat'd are surfaced in
    ``missing_files`` and force ``worth_compacting`` False — a
    missing file is corruption to page on, never a merge input. A
    streaming/merge-heavy table accretes small files whose per-file
    overhead (footer reads, task scheduling, stats entries)
    dominates at scale; this report is what a maintenance daemon
    polls to decide WHEN a table has drifted enough to pay the
    rewrite, without running any Spark job — pure manifest + stat
    arithmetic, like ``vacuum_plan``.

    Returns n_files/small_files/small_bytes/total_bytes, the
    estimated file count after compacting just the small set
    (ceil(small_bytes / target_bytes), min 1), and
    ``worth_compacting`` — True when at least two small files exist
    and the estimated merge shrinks the count (the trivial gate a
    scheduler needs; callers wanting smarter policies have every
    input in the dict)."""
    v = version if version is not None else _committed_version(table_dir)
    manifest = _read_manifest(table_dir, v)
    sizes: dict[str, int] = {}
    missing: list[str] = []
    for rel in manifest["files"]:
        try:
            sizes[rel] = os.path.getsize(os.path.join(table_dir, rel))
        except OSError:
            # a manifest-listed file that cannot be stat'd is
            # CORRUPTION, not a compaction candidate — surface it
            # and refuse to recommend a rewrite that would commit a
            # snapshot missing those rows (r7 code review)
            missing.append(rel)
    small = {rel: b for rel, b in sizes.items() if b < target_bytes}
    small_bytes = sum(small.values())
    est_after = max(1, -(-small_bytes // target_bytes)) if small else 0
    return {
        "version": v,
        "target_bytes": target_bytes,
        "n_files": len(manifest["files"]),
        "total_bytes": sum(sizes.values()),
        "small_files": sorted(small),
        "small_bytes": small_bytes,
        "missing_files": sorted(missing),
        "est_files_after": est_after + (len(sizes) - len(small)),
        "worth_compacting": not missing
        and len(small) >= 2
        and est_after < len(small),
    }


def _published_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_published")


def published_version(table_dir: str) -> int | None:
    """The version the PUBLISHED pointer marks, or None if the table
    was never published."""
    try:
        with open(_published_path(table_dir)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def publish_snapshot(table_dir: str, version: int | None = None) -> int:
    """Advance the PUBLISHED pointer (default: to current) — the
    Iceberg write-audit-publish pattern on this layer: writers
    commit versions as usual (the ``_current`` pointer advances per
    commit), audits run against the staged versions via time travel,
    and only an explicit publish makes them visible to consumers who
    read with ``read_snapshot(published=True)``. The publish itself
    is one atomic pointer swap, and like a tag the published version
    is retention-exempt (vacuum never drops what consumers see)."""
    version = _retained_version(table_dir, version)
    with _table_lock(table_dir):
        _atomic_write(_published_path(table_dir), str(version))
    return version


def _retained_version(table_dir: str, version: int | None) -> int:
    """``version`` (default: current) checked to be still retained."""
    cur = _committed_version(table_dir)
    version = cur if version is None else version
    try:
        _read_manifest(table_dir, version)
    except FileNotFoundError:
        raise ValueError(
            f"v{version} is not a retained version of {table_dir}"
        )
    return version


class ConstraintViolation(ValueError):
    """Incoming data failed a table CHECK constraint — the commit is
    refused and the table is unchanged."""


def _constraints_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_constraints")


def list_constraints(table_dir: str) -> dict[str, str]:
    """name -> SQL boolean expression for every CHECK constraint
    (UNIQUE constraints live in the same store but are not row-wise
    boolean expressions — see unique_constraint_records)."""
    return {
        name: rec["expr"]
        for name, rec in constraint_records(table_dir).items()
        if rec.get("kind", "check") == "check"
    }


def constraint_records(table_dir: str) -> dict[str, dict]:
    """name -> {"expr", "since_version"} for every CHECK constraint.

    ``since_version`` is the table version at which the constraint
    was VALIDATED against all existing rows (-1 when the table was
    empty — every version ever committed postdates the guarantee).
    Because ``add_constraint`` scans existing rows, every write since
    is enforced, and ``rollback`` refuses to re-point content from
    before that validation (see rollback), the invariant "every
    committed version ≥ since_version satisfies the expression" holds
    by induction — which is what lets the /sql MV rewrite trust a
    ``col IS NOT NULL`` constraint for a version-pinned answer
    (plans/sql_rewrite.semantic_gate) without rescanning anything.
    Records written before this field existed load with
    ``since_version=None`` (provenance unknown — consumers must not
    trust them for version-pinned proofs; re-adding the constraint
    refreshes the stamp)."""
    try:
        with open(_constraints_path(table_dir)) as f:
            raw = dict(json.load(f))
    except FileNotFoundError:
        return {}
    return {
        name: (
            {"expr": v, "since_version": None, "kind": "check"}
            if isinstance(v, str)
            else {
                "expr": v["expr"],
                "since_version": v.get("since_version"),
                "kind": v.get("kind", "check"),
                **({"col": v["col"]} if "col" in v else {}),
            }
        )
        for name, v in raw.items()
    }


def unique_constraint_records(table_dir: str) -> dict[str, dict]:
    """name -> {"col", "since_version"} for every UNIQUE constraint.
    The same validated-at + write-enforced + rollback-floored
    induction as CHECK constraints (they share the store, so
    ``rollback``'s since_version refusal covers both): every
    committed version ≥ since_version holds at most one row per
    non-NULL value of ``col`` — which is what lets the /sql join
    rewrite trust a dimension key as 1:≤1 without rescanning."""
    return {
        name: {"col": rec["col"], "since_version": rec["since_version"]}
        for name, rec in constraint_records(table_dir).items()
        if rec.get("kind") == "unique"
    }


def add_constraint(
    spark: SparkSession, table_dir: str, name: str, expr: str
) -> None:
    """Add a CHECK constraint (Delta `ALTER TABLE ADD CONSTRAINT`
    semantics): every EXISTING row must already satisfy it (one scan,
    verified before the constraint lands), and every future
    write_snapshot/merge_snapshot refuses data that violates it.
    SQL-standard CHECK three-valued logic: a row violates only when
    the expression is FALSE — NULL (unknown) passes.

    Constraints are table metadata, not version metadata: they apply
    from now on regardless of time travel, and survive restarts in
    the ``_constraints`` file (atomic replace under the commit
    lock). The record also stamps ``since_version`` — the version the
    validation scan covered — and the scan runs UNDER the table lock,
    pinned at that version, so an in-flight commit cannot slip rows
    between the scan and the stamp (same-process; a commit that
    already passed enforcement against the pre-add constraint set and
    lands after this returns is the documented enforcement window the
    base facility always had)."""
    from pyspark.sql import functions as F

    if not name or not name.replace("_", "").replace("-", "").isalnum():
        raise ValueError(f"invalid constraint name {name!r}")
    with _table_lock(table_dir):
        cur = current_version(table_dir)
        if cur is not None:
            existing = read_snapshot(spark, table_dir, version=cur)
            bad = existing.where(F.expr(expr) == False).limit(3).collect()  # noqa: E712
            if bad:
                raise ConstraintViolation(
                    f"existing rows violate {name!r} ({expr}): "
                    f"e.g. {[r.asDict() for r in bad]}"
                )
        recs = constraint_records(table_dir)
        recs[name] = {
            "expr": expr,
            # -1 when the table is empty: every version ever
            # committed will postdate the guarantee (see
            # constraint_records for the induction this anchors)
            "since_version": cur if cur is not None else -1,
        }
        _write_constraints(table_dir, recs)


def _write_constraints(table_dir: str, recs: dict[str, dict]) -> None:
    """Store constraint records atomically; legacy records without a
    ``since_version`` stay bare expression strings."""
    raw = {
        n: rec if rec["since_version"] is not None else rec["expr"]
        for n, rec in recs.items()
    }
    os.makedirs(table_dir, exist_ok=True)
    _atomic_write(_constraints_path(table_dir), json.dumps(raw))


def add_unique_constraint(
    spark: SparkSession, table_dir: str, name: str, col: str
) -> None:
    """Add a UNIQUE constraint on ``col``: every existing row must
    already be unique on it (one aggregate scan, verified before the
    constraint lands, pinned under the table lock like
    add_constraint), and every future write refuses data that would
    duplicate a value. SQL-standard UNIQUE NULL semantics: NULLs are
    exempt (any number of NULLs coexist); pair with a ``col IS NOT
    NULL`` CHECK constraint for primary-key semantics.

    Enforcement cost by write path (documented, not hidden):
    - write_snapshot(overwrite): one groupBy over the INCOMING data
      (a full replace cannot collide with anything else).
    - write_snapshot(append): incoming groupBy + one join of the
      incoming values against the existing table.
    - merge_snapshot: incoming groupBy; when ``col`` is the ENTIRE
      merge key that is sufficient (matched rows are REPLACED by
      this column, so the post-state stays unique by induction);
      otherwise — including composite keys that merely CONTAIN the
      column — one join of the incoming values against the rows the
      merge carries forward.
    - update_snapshot: REFUSED when the SET assigns ``col`` —
      proving post-update uniqueness would cost a full-table scan
      per update; re-key through merge_snapshot keyed on ``col``
      instead.

    ``since_version`` stamps the validation scan exactly like CHECK
    constraints (shared store), so ``rollback`` refuses to re-point
    content from before it and version-pinned consumers (the /sql
    join rewrite's dimension-key gate) can trust the proof at any
    pin ≥ since_version."""
    from pyspark.sql import functions as F

    if not name or not name.replace("_", "").replace("-", "").isalnum():
        raise ValueError(f"invalid constraint name {name!r}")
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", col):
        raise ValueError(f"invalid column name {col!r}")
    with _table_lock(table_dir):
        cur = current_version(table_dir)
        if cur is not None:
            existing = read_snapshot(spark, table_dir, version=cur)
            # canonicalize to the schema's spelling: Spark resolves
            # F.col case-insensitively, so a constraint declared as
            # 'PK' against a 'pk' column would validate here yet be
            # skipped by every case-SENSITIVE Python-side check in
            # _enforce_unique / update_snapshot — advertising a
            # pin-valid 1:≤1 proof that is never write-enforced
            # (r10 ADVICE medium #2). Store the real name instead.
            low = {c.lower(): c for c in existing.columns}
            if col.lower() not in low:
                raise ValueError(
                    f"cannot add UNIQUE on {col!r}: not in table "
                    f"columns {existing.columns}"
                )
            col = low[col.lower()]
            dup = (
                existing.where(F.col(col).isNotNull())
                .groupBy(col)
                .agg(F.count(F.lit(1)).alias("n"))
                .where("n > 1")
                .limit(3)
                .collect()
            )
            if dup:
                raise ConstraintViolation(
                    f"existing rows violate UNIQUE {name!r} ({col}): "
                    f"e.g. {[r.asDict() for r in dup]}"
                )
        recs = constraint_records(table_dir)
        recs[name] = {
            "expr": f"unique({col})",
            "kind": "unique",
            "col": col,
            "since_version": cur if cur is not None else -1,
        }
        _write_constraints(table_dir, recs)


def _enforce_unique(
    table_dir: str,
    df: DataFrame,
    what: str,
    *,
    against_existing: bool = False,
    exempt_merge_keys: list[str] | None = None,
) -> None:
    """Refuse ``df`` if committing it would duplicate a
    UNIQUE-constrained column. Always checks WITHIN the incoming
    data; ``against_existing`` additionally joins the incoming
    values against the current table (append / non-key merge — the
    paths where surviving existing rows can collide).
    ``exempt_merge_keys``: when the unique column is the ENTIRE
    merge key, matched existing rows are replaced BY that column, so
    the existing-side check is provably unnecessary and skipped. A
    composite key containing the column does NOT qualify (r10 code
    review): merging (k=2, u='a') keyed on [k, u] carries forward an
    existing (k=1, u='a') — replacement happens per (k, u) pair, so
    the u-collision with a DIFFERENT k survives and must be
    checked."""
    uniq = unique_constraint_records(table_dir)
    if not uniq:
        return
    from pyspark.sql import functions as F

    for name, rec in uniq.items():
        # resolve against the incoming schema case-insensitively —
        # Spark's own resolution is case-insensitive, so a writer
        # supplying 'PK' data for a 'pk' constraint WILL land rows in
        # the constrained column and must be checked (a sensitive
        # `in` here would skip enforcement entirely, r10 ADVICE
        # medium #2); pre-canonicalized records make this mostly a
        # no-op, but legacy records and empty-table adds still carry
        # the user's spelling
        incoming = {c.lower(): c for c in df.columns}
        col = incoming.get(rec["col"].lower())
        if col is None:
            # rows written without the column hold NULL there —
            # exempt under UNIQUE NULL semantics
            continue
        dup = (
            df.where(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("n"))
            .where("n > 1")
            .limit(3)
            .collect()
        )
        if dup:
            raise ConstraintViolation(
                f"{what} violates UNIQUE {name!r} ({col}) within the "
                f"incoming data: e.g. {[r.asDict() for r in dup]}"
            )
        if not against_existing or (
            exempt_merge_keys
            and [k.lower() for k in exempt_merge_keys] == [col.lower()]
        ):
            continue
        cur = current_version(table_dir)
        if cur is None:
            continue
        existing = read_snapshot(df.sparkSession, table_dir, version=cur)
        if col.lower() not in {c.lower() for c in existing.columns}:
            continue
        survivors = existing
        if exempt_merge_keys:
            # rows matched by the merge keys are REPLACED — only the
            # carried-forward rows can collide with the incoming
            survivors = existing.join(
                df.select(*exempt_merge_keys).dropDuplicates(),
                on=exempt_merge_keys,
                how="left_anti",
            )
        clash = (
            survivors.select(col)
            .where(F.col(col).isNotNull())
            .join(
                df.select(col).where(F.col(col).isNotNull()),
                on=col,
                how="inner",
            )
            .limit(3)
            .collect()
        )
        if clash:
            raise ConstraintViolation(
                f"{what} violates UNIQUE {name!r} ({col}) against "
                f"existing rows: e.g. {[r.asDict() for r in clash]}"
            )


def drop_constraint(table_dir: str, name: str) -> None:
    with _table_lock(table_dir):
        recs = constraint_records(table_dir)
        if name not in recs:
            raise KeyError(name)
        del recs[name]
        _write_constraints(table_dir, recs)


def _enforce_constraints(table_dir: str, df: DataFrame, what: str) -> None:
    """Refuse ``df`` if any row makes a registered CHECK expression
    FALSE (NULL passes — SQL CHECK). One filtered pass per
    constraint over the INCOMING data only, never the table; an
    expression that does not resolve against this df's schema
    (schema evolution dropped the column) is a loud error, not a
    silent skip."""
    cons = list_constraints(table_dir)
    if not cons:
        return
    from pyspark.sql import functions as F

    for name, expr in cons.items():
        bad = df.where(F.expr(expr) == False).limit(3).collect()  # noqa: E712
        if bad:
            raise ConstraintViolation(
                f"{what} violates constraint {name!r} ({expr}): "
                f"e.g. {[r.asDict() for r in bad]}"
            )


def _tags_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_tags")


def list_tags(table_dir: str) -> dict[str, int]:
    """name -> version for every tag on the table."""
    try:
        with open(_tags_path(table_dir)) as f:
            return {k: int(v) for k, v in json.load(f).items()}
    except FileNotFoundError:
        return {}


def tag_snapshot(
    table_dir: str, tag: str, version: int | None = None, force: bool = False
) -> int:
    """Pin a named TAG to a version (default: current) — the
    Iceberg tag: a human-meaningful, immutable reference ("the
    January training snapshot") that RETENTION RESPECTS: ``vacuum``
    keeps every tagged version's manifest and data alive regardless
    of ``keep_versions``, so an experiment can always re-read the
    exact bytes it trained on. Re-pointing an existing tag requires
    ``force=True`` (a silently moved tag breaks the reproducibility
    contract). The tag file swap is atomic (os.replace under the
    table's commit lock); on object storage it is the same
    conditional PUT the pointer uses."""
    if not tag or "/" in tag or tag.strip() != tag:
        raise ValueError(f"invalid tag name {tag!r}")
    version = _retained_version(table_dir, version)
    with _table_lock(table_dir):
        tags = list_tags(table_dir)
        if tag in tags and tags[tag] != version and not force:
            raise ValueError(
                f"tag {tag!r} already points at v{tags[tag]}; pass "
                "force=True to move it"
            )
        tags[tag] = version
        _atomic_write(_tags_path(table_dir), json.dumps(tags))
    return version


def delete_tag(table_dir: str, tag: str) -> None:
    """Remove a tag (its version then ages out under normal
    retention on the next vacuum)."""
    with _table_lock(table_dir):
        tags = list_tags(table_dir)
        if tag not in tags:
            raise KeyError(tag)
        del tags[tag]
        _atomic_write(_tags_path(table_dir), json.dumps(tags))


def vacuum_plan(table_dir: str, keep_versions: int = 2) -> dict:
    """DRY-RUN of ``vacuum``: what a retention pass at
    ``keep_versions`` would drop — versions, data directories, and
    bytes — without deleting anything. The erasure-SLA sizing
    report: after a ``delete_snapshot``, this is how many bytes the
    pre-delete versions still pin until vacuum runs. Pure manifest
    arithmetic + directory stat; no Spark job."""
    cur = current_version(table_dir)
    if cur is None:
        return {
            "keep_versions": keep_versions,
            "kept": [],
            "drop_manifest_versions": [],
            "drop_dirs": [],
            "drop_bytes": 0,
        }
    mdir = _manifest_dir(table_dir)
    present = {
        int(m.group(1))
        for name in _manifest_names(mdir)
        if (m := _MANIFEST_RE.match(name))
    }
    # tagged versions are retention-exempt: a tag is a promise that
    # the exact bytes stay re-readable (see tag_snapshot)
    pub = published_version(table_dir)
    keep = (
        set(range(max(0, cur - keep_versions + 1), cur + 1))
        | set(list_tags(table_dir).values())
        | ({pub} if pub is not None else set())
    ) & present
    live: set[str] = set()
    for v in keep:
        live.update(_read_manifest(table_dir, v)["files"])
    live_dirs = {os.path.dirname(f) for f in live}
    drop_dirs: list[str] = []
    drop_bytes = 0
    data_root = os.path.join(table_dir, "data")
    if os.path.isdir(data_root):
        for sub in sorted(os.listdir(data_root)):
            rel = os.path.join("data", sub)
            if rel not in live_dirs:
                drop_dirs.append(rel)
                full = os.path.join(data_root, sub)
                drop_bytes += sum(
                    os.path.getsize(os.path.join(full, f))
                    for f in os.listdir(full)
                    if os.path.isfile(os.path.join(full, f))
                )
    return {
        "keep_versions": keep_versions,
        "kept": sorted(keep),
        "drop_manifest_versions": sorted(present - keep),
        "drop_dirs": drop_dirs,
        "drop_bytes": drop_bytes,
    }


def vacuum(table_dir: str, keep_versions: int = 2) -> list[str]:
    """Delete data directories unreferenced by the newest
    ``keep_versions`` manifests (and drop the older manifests). The
    ONLY destructive operation, and explicitly invoked — mirrors
    Delta VACUUM's contract that time travel extends exactly as far
    as retention.

    Executes exactly the ``vacuum_plan`` dry run (one planner, two
    consumers — the HTTP retention report can never predict a
    different drop set than the pass performs), plus the stray-tmp
    sweep the plan does not list (crashed-commit garbage is never
    part of any retention arithmetic)."""
    cur = current_version(table_dir)
    if cur is None:
        return []
    plan = vacuum_plan(table_dir, keep_versions)
    # Re-checkpoint BEFORE dropping: a kept manifest stored as a
    # delta resolves through ancestors this pass is about to delete,
    # so each kept delta is first rewritten in place as its resolved
    # full form (identical content, chain reset to 0 — the same
    # atomic tmp+replace as a commit). Under the table lock so a
    # racing commit can't chain a new delta onto a version mid-swap.
    with _table_lock(table_dir):
        for v in plan["kept"]:
            raw = _raw_manifest(table_dir, v)
            if raw.get("kind") != "delta":
                continue
            full = dict(_read_manifest(table_dir, v))
            full["chain"] = 0
            _atomic_write(
                os.path.join(_manifest_dir(table_dir), f"v{v}.json"),
                json.dumps(full),
            )
    removed = []
    for rel in plan["drop_dirs"]:
        shutil.rmtree(os.path.join(table_dir, rel))
        removed.append(rel)
    mdir = _manifest_dir(table_dir)
    drop_manifests = set(plan["drop_manifest_versions"])
    for name in os.listdir(mdir):
        m = _MANIFEST_RE.match(name)
        if m is None:
            # stray tmp from a crashed commit: never valid, sweep it
            os.remove(os.path.join(mdir, name))
        elif int(m.group(1)) in drop_manifests:
            os.remove(os.path.join(mdir, name))
    return removed


def _read_file_subset(
    spark: SparkSession, table_dir: str, manifest: dict, files: list[str]
) -> DataFrame:
    """Read ``files``, a subset of ``manifest``'s, under the version's
    schema recorded at commit, so no Spark job infers it from the
    files; a file that lacks a column reads NULL there. A manifest
    without a record (written before schemas were recorded, or whose
    files disagree on a column's type) falls back to a mergeSchema
    read of the subset. An empty subset still plans over all the
    version's files under ``1=0``: the version's schema survives and,
    once no inference is needed, the optimizer answers it without a
    job."""
    paths = [os.path.join(table_dir, f) for f in files or manifest["files"]]
    if not paths:
        raise ValueError(
            f"v{manifest['version']} of {table_dir} lists no files"
        )
    schema = manifest.get("schema")
    reader = (
        spark.read.option("mergeSchema", "true")
        if schema is None
        else spark.read.schema(StructType.fromJson(schema))
    )
    df = reader.parquet(*paths)
    return df if files else df.where("1 = 0")


@contextlib.contextmanager
def materialized(df: DataFrame):
    """``df`` computed once for every read inside the block: an eager
    ``localCheckpoint``, so each later job reads the same rows, even
    when ``df``'s plan is not deterministic (a re-read external
    source, a sample, a limit), and never re-runs that plan. Eager,
    not ``persist()``: the checkpoint job runs adaptive execution
    first, so a shuffle output keeps its coalesced partitions rather
    than all of ``spark.sql.shuffle.partitions``. The checkpoint's
    blocks are released when the block exits; nothing may read the
    yielded frame after that."""
    cp = df.localCheckpoint(eager=True)
    try:
        yield cp
    finally:
        cp._jdf.logicalPlan().rdd().unpersist(False)


def _align_columns(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Add NULL columns for fields present on one side only, as a read
    of files that predate a schema-evolving commit yields, so two
    versions with different schemas diff like one full read."""
    from pyspark.sql import functions as F

    for name, dtype in b.dtypes:
        if name not in a.columns:
            a = a.withColumn(name, F.lit(None).cast(dtype))
    for name, dtype in a.dtypes:
        if name not in b.columns:
            b = b.withColumn(name, F.lit(None).cast(dtype))
    return a, b.select(a.columns)


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
    key: str | list[str] | tuple[str, ...] | None = None,
    skip_shared: bool = True,
    cancel: bool = True,
) -> DataFrame:
    """Row-level changes between two versions — the
    ``table_changes`` / CDC-read analog, computed from the two
    immutable snapshots themselves (no change log needed).

    Without ``key``: full-row diff — one output row per
    added/removed row, tagged ``_change`` in {'insert', 'delete'}
    (a modified row appears as delete + insert). The diff is the
    range's FILE SWAP — every row of the files only ``to_version``
    lists tagged 'insert', every row of the files only
    ``from_version`` lists tagged 'delete' (``skip_shared=False``
    swaps every file) — followed by a
    cancellation step (two ``exceptAll`` shuffles) that drops the
    rows a rewritten file carried through unchanged. ``cancel=False``
    skips that step and returns the swap itself: a multiset that
    differs from the diff only by rows present on both sides, so any
    LINEAR aggregate (COUNT, SUM, signed by ``_change``) over it is
    exactly the aggregate over the diff, after a MERGE, delete,
    compact or rollback alike — at the cost of one read of each
    swapped file and no row shuffle (``ivm``'s count/sum ticks read
    it this way). With ``key``:
    key-level diff — '_change' in {'insert', 'delete', 'update'},
    carrying the NEW row for inserts/updates and the OLD row for
    deletes (the MERGE-feed shape a downstream mirror applies).

    ``skip_shared`` (default on) applies MANIFEST-LEVEL FILE
    SKIPPING: files listed by both versions are never planned.
    Immutability makes a shared path a content proof, so for the
    full-row multiset diff the shared rows cancel exactly
    ((S+A) - (S+R) = A - R), and for the key-level diff a changed
    key's old row cannot sit in a shared file (the commit that
    changed it rewrote that file — key uniqueness, which the key
    form already assumes). At 100 TB this is the difference between
    diffing two snapshots of the table and scanning the handful of
    files an append/MERGE actually touched — cost ∝ change, not
    table. Pass ``skip_shared=False`` to force the two-full-scan
    form (the oracle the skipping path is pinned against).

    .. warning:: The ``key`` form REQUIRES key uniqueness in both
       versions — i.e. a merge-maintained table (``merge_snapshot``
       upserts whole rows per key). A plain ``append`` can introduce
       a SECOND row for an existing key without touching the shared
       file that holds the first; under such duplicates the key-level
       diff is ill-defined in BOTH modes, and the two modes can
       additionally DISAGREE (the skipping form never plans the
       shared carrier, so it tags the key 'insert' where the full
       scan sees a pre-existing row). The divergence is pinned in
       tests/test_snapshots.py::
       test_snapshot_diff_key_form_requires_unique_keys. Full-row
       diffs (``key=None``) remain exact multiset semantics under
       duplicates in both modes.
    """
    if key is not None and not cancel:
        raise ValueError("cancel=False applies only to the full-row form")
    to_version = (
        current_version(table_dir) if to_version is None else to_version
    )
    if skip_shared:
        m_old = _read_manifest(table_dir, from_version)
        m_new = _read_manifest(table_dir, to_version)
        shared = set(m_old["files"]) & set(m_new["files"])
        old = _read_file_subset(
            spark, table_dir, m_old,
            [f for f in m_old["files"] if f not in shared],
        )
        new = _read_file_subset(
            spark, table_dir, m_new,
            [f for f in m_new["files"] if f not in shared],
        )
    else:
        old = read_snapshot(spark, table_dir, version=from_version)
        new = read_snapshot(spark, table_dir, version=to_version)
    # Align across schema-evolving commits in BOTH branches: the
    # full-scan form is the documented oracle for the skipping form,
    # so it must diff an added/dropped column identically (NULL-filled
    # on the side that lacks it) rather than raise on exceptAll
    # column-count mismatch / UNRESOLVED_COLUMN in the key form.
    old, new = _align_columns(old, new)
    from pyspark.sql import functions as F

    if key is None:
        if cancel:
            new, old = new.exceptAll(old), old.exceptAll(new)
        ins = new.withColumn("_change", F.lit("insert"))
        return ins.unionByName(old.withColumn("_change", F.lit("delete")))
    keys = [key] if isinstance(key, str) else list(key)
    val_cols = [c for c in new.columns if c not in keys]
    o = old.select(*keys, F.struct(*val_cols).alias("_old"))
    n = new.select(*keys, F.struct(*val_cols).alias("_new"))
    joined = o.join(n, on=keys, how="full_outer")
    return (
        joined.withColumn(
            "_change",
            F.when(F.col("_old").isNull(), F.lit("insert"))
            .when(F.col("_new").isNull(), F.lit("delete"))
            .when(F.col("_old") != F.col("_new"), F.lit("update"))
            .otherwise(F.lit(None)),
        )
        .where(F.col("_change").isNotNull())
        .select(
            *keys,
            "_change",
            F.coalesce("_new", "_old").alias("_row"),
        )
    )
