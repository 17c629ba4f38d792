"""Aggregate-query rewrite over maintained rollups (the
materialized-view answering layer; EXT over SURVEY §2's cache
family, C5's semantic twin at the PLAN level).

The reference caches whole query RESULTS keyed on the canonical
request (app/main.py:78-86 → 44-day semantic cache); a rollup
rewrite is the stronger form every warehouse optimizer ships
(Oracle query rewrite, BigQuery/Snowflake MVs, Databricks
materialized views): a maintained per-group aggregate can answer
any query that groups on a SUBSET of its keys with derivable
measures — without touching the base table at all.

Why this is the 100 TB story: ``ivm.maintain_rollup`` keeps the
rollup fresh for O(changed rows) per commit; this module then turns
a 100 TB base-table aggregate into a scan of the dim-bounded rollup
(re-aggregating |rollup groups| rows, usually kilobytes). The
rewrite is *provably exact*, not heuristic:

- COUNT(*)  = Σ n_rows   (count-distributive)
- SUM(col)  = Σ sum_val  (sum-distributive; col must be the
  rollup's maintained ``sum_col``)
- AVG(col)  = Σ sum_val / Σ n_rows (derived, computed ONCE at the
  end — never averaged-of-averages)

and grouping on a subset of the rollup's group keys re-aggregates
exactly (GROUP BY (a) over GROUP BY (a, b) partials). Anything
else — a different measure column, MIN/MAX (not self-maintainable,
the classic IVM limitation documented in ivm.py), a group key the
rollup doesn't carry — falls back to the base table, loudly, in
the returned explanation.

Freshness contract: a rollup answers only if its last APPLIED
source version (``_txns`` log order, rollback-safe — ivm.py:55)
equals the source's CURRENT version. ``freshness="stale_ok"``
opts into bounded staleness (the Snowflake MV read mode);
``"strict"`` (default) falls back to the base scan instead.
Tombstoned groups (n_rows = 0 after deletes) are filtered by
``ivm.read_rollup`` on every rollup read path.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark import ivm
from ensembl_lakehouse_spark import snapshots as SN

#: Per-kind derivable measures. "sum" is ivm.maintain_rollup's
#: (n_rows, sum_val) contract; "minmax" and "hll" are
#: ivm.maintain_aux_rollup's recompute-on-delete measures —
#: MIN/MAX re-aggregate exactly over subset groupings
#: (min-of-mins), and approx COUNT(DISTINCT) reads as
#: hll_sketch_estimate(hll_union_agg(hll)). The hll tier is
#: ESTIMATE-equivalent, not bit-equivalent, to a single-pass
#: sketch (r8 ADVICE, pinned by
#: test_hll_union_vs_single_pass_drift): DataSketches HLL union is
#: a register-wise max (order-insensitive — ANY partition-parallel
#: hll_sketch_agg goes through the same union and estimates
#: identically), but a sketch built strictly serially estimates via
#: the HIP accumulator, which past exact/coupon mode can differ
#: from the union's composite estimator within the sketch's error
#: bound. COUNT(*) derives from every kind (all carry n_rows).
DERIVABLE_BY_KIND = {
    "sum": ("count", "sum", "avg"),
    "minmax": ("count", "min", "max"),
    "hll": ("count", "approx_count_distinct"),
    # approx_percentile carries its quantile in the fn spelling
    # ("approx_percentile@0.5"); _fn_base strips it for dispatch.
    # Estimate tier like hll — the rollup's DDSketch (γ = 1.02,
    # ≤ 0.99 % relative error vs the true order statistic) is a
    # different estimator than an engine-native percentile_approx,
    # so the /sql surface gates it behind rewrite=approx; bucket
    # adds are fully additive, so rollup-path answers are
    # BIT-deterministic (and the base path below computes the SAME
    # sketch, making rollup ≡ base exact for this tier).
    "quantile": ("count", "approx_percentile"),
}


#: column names the rollup answer path reads as stored partials —
#: user-chosen output aliases may never take these spellings (the
#: bucket-alias withColumn would silently replace the partial)
_ROLLUP_INTERNAL = frozenset(
    {"n_rows", "sum_val", "min_val", "max_val", "hll", "qsk"}
)


def _fn_base(fn: str) -> str:
    """Measure name without the parameter suffix
    ("approx_percentile@0.25" → "approx_percentile")."""
    return fn.split("@", 1)[0]


def _fn_quantile(fn: str) -> float:
    q = float(fn.split("@", 1)[1])
    if not (0.0 < q < 1.0):
        raise ValueError(f"quantile must be in (0, 1), got {q}")
    return q


@dataclass(frozen=True)
class RollupSpec:
    """A registered rollup: where it lives, what it maintains.

    ``parent_dir`` marks a HIERARCHICAL child view
    (ivm.maintain_rollup_from_rollup for kind "sum";
    ivm.maintain_aux_rollup_from_rollup for "minmax"/"hll" — r9):
    its keys must be a subset of the base table's columns carried
    through identity key_exprs, and its freshness w.r.t. the base
    composes through the parent — child applied == parent current
    AND parent applied == the base pin (checked at answer time,
    pinned-at-plan)."""

    name: str
    rollup_dir: str
    source_dir: str
    group_cols: tuple[str, ...]
    sum_col: str
    parent_dir: str | None = None
    #: "sum" (maintain_rollup) | "minmax" | "hll"
    #: (maintain_aux_rollup); sum_col doubles as the measured
    #: column for the aux kinds
    kind: str = "sum"
    #: (group col, canonical bucket expression) pairs for BUCKET-keyed
    #: group columns (ivm.maintain_rollup key_exprs, r10 VERDICT #2):
    #: the column holds ``date_trunc('day',ts)``-style computed values
    #: rather than a base column, and a query's bucket group key
    #: matches it by canonical-string equality. Empty for plain specs.
    group_exprs: tuple[tuple[str, str], ...] = ()
    #: session timezone the bucket keys were maintained under —
    #: date_trunc over TIMESTAMP truncates in the session zone, so a
    #: bucket-exposing answer is only valid when the querying
    #: session's zone matches (answer_aggregate skips otherwise).
    tz: str | None = None


class RollupCatalog:
    """Driver-side registry of maintained rollups (bounded: one
    entry per registered view, the same driver-metadata class as
    the snapshot manifests)."""

    def __init__(self) -> None:
        self._specs: dict[str, RollupSpec] = {}

    def register(
        self,
        name: str,
        rollup_dir: str,
        source_dir: str,
        group_cols: list[str],
        sum_col: str,
        parent_dir: str | None = None,
        kind: str = "sum",
        group_exprs: dict[str, str] | None = None,
        tz: str | None = None,
    ) -> RollupSpec:
        """``group_exprs`` marks bucket-keyed group columns (must
        mirror the ivm.maintain_rollup ``key_exprs`` the view is
        maintained with — the ``_bucketspec`` marker is the source
        of truth and is verified against this registration when
        present); ``tz`` is the maintenance session timezone
        (defaulted from the marker)."""
        if kind not in DERIVABLE_BY_KIND:
            raise ValueError(
                f"kind must be one of {sorted(DERIVABLE_BY_KIND)}, "
                f"got {kind!r}"
            )
        canon: dict[str, str] = {}
        if group_exprs:
            if kind != "sum":
                raise ValueError(
                    "bucket group_exprs are maintained by "
                    "maintain_rollup only (kind='sum')"
                )
            bad = set(group_exprs) - set(group_cols)
            if bad:
                raise ValueError(
                    f"group_exprs names {sorted(bad)}, not in "
                    f"group_cols {group_cols}"
                )
            canon = {
                c: ivm.canonical_bucket_expr(e)[0]
                for c, e in group_exprs.items()
            }
        # ivm owns the marker's filename/format — one reader, shared
        marker = ivm.read_bucketspec(os.path.abspath(rollup_dir))
        if marker is not None:
            if canon != (marker.get("exprs") or {}):
                raise ValueError(
                    f"rollup {name!r} is maintained under bucket spec "
                    f"{marker.get('exprs')} but registered with "
                    f"{canon or None} — the registration contradicts "
                    "how the view is maintained"
                )
            if tz is None:
                tz = marker.get("tz")
            elif tz != marker.get("tz"):
                raise ValueError(
                    f"rollup {name!r} was maintained under timezone "
                    f"{marker.get('tz')!r}, not {tz!r}"
                )
        elif canon:
            raise ValueError(
                f"rollup {name!r} registered with bucket group_exprs "
                "but carries no _bucketspec marker — maintain it with "
                "ivm.maintain_rollup(key_exprs=...) first"
            )
        lineage = ivm.rollup_lineage(os.path.abspath(rollup_dir))
        if (
            parent_dir is not None
            and lineage is not None
            and os.path.abspath(parent_dir) != lineage
        ):
            raise ValueError(
                f"rollup {name!r} is lineage-marked as a child of "
                f"{lineage}, not {os.path.abspath(parent_dir)} — the "
                "registration contradicts how the view is maintained"
            )
        spec = RollupSpec(
            name=name,
            rollup_dir=os.path.abspath(rollup_dir),
            source_dir=os.path.abspath(source_dir),
            group_cols=tuple(group_cols),
            sum_col=sum_col,
            parent_dir=(
                os.path.abspath(parent_dir) if parent_dir else lineage
            ),
            kind=kind,
            group_exprs=tuple(sorted(canon.items())),
            tz=tz,
        )
        self._specs[name] = spec
        return spec

    def unregister(self, name: str) -> None:
        self._specs.pop(name, None)

    def specs(self) -> list[RollupSpec]:
        """Registered specs, cheapest-first (fewest group columns ⇒
        fewest rollup rows to re-aggregate), name-tiebroken so the
        choice is deterministic."""
        return sorted(
            self._specs.values(), key=lambda s: (len(s.group_cols), s.name)
        )


def _last_applied(spec: RollupSpec) -> int | None:
    applied = ivm._applied_versions(spec.rollup_dir)
    return applied[-1] if applied else None


def _represented_base_version(chain: list[str]) -> int | None:
    """The BASE version the leaf rollup's CONTENT actually derives
    from, walked exactly from the ``_txns`` ledgers (r9 ADVICE: when
    a non-root hop of a hierarchical chain lags, the leaf's content
    reflects an OLDER parent state than the root's last apply, so
    returning root-last overstates what a stale_ok answer represents
    and can defeat the NOT-NULL proof floor).

    ``chain`` is leaf-first, root-last. A child's ``ivm:src_v{v}``
    stamps record the PARENT snapshot version it consumed; the
    parent's own op records map each of ITS snapshot versions to the
    feed version applied by the commit that created it. So: resolve
    the leaf's last-consumed parent version, then at each parent find
    the latest ivm stamp at-or-before the record that CREATED that
    snapshot version (application order — creation is unique even
    after a rollback re-points the pointer at an old number), and
    carry the stamped feed version up. At the root the stamp is a
    base version. None when any step is unresolvable (pre-log /
    manifest-only state, or a consumed state that predates any
    apply) — the caller must treat None as "unknown, possibly
    pre-proof" and skip proof-dependent serving."""
    applied = ivm._applied_versions(chain[0])
    if not applied:
        return None
    v = applied[-1]
    for parent_dir in chain[1:]:
        recs = SN.committed_op_records(parent_dir)
        created_at = next(
            (i for i, (rv, _) in enumerate(recs) if rv == v), None
        )
        if created_at is None:
            return None
        stamps = [ivm._stamp_version(op) for _, op in recs[: created_at + 1]]
        stamp = next((s for s in reversed(stamps) if s is not None), None)
        if stamp is None:
            return None
        v = stamp
    return v


def _chain_freshness(
    spec: RollupSpec, src_v: int | None
) -> tuple[str | None, int | None]:
    """(state, represents): state is None when the spec is exactly
    fresh w.r.t. the base pin; 'stale' when it provably lags the
    pin; 'ahead' when the chain may contain data PAST the pin
    (staged rows — never servable, even under stale_ok); 'never'
    when any hop has no stamps. ``represents`` is the BASE version
    the chain's content derives from — the version a stale_ok answer
    actually represents, which proof-dependent measures must gate on
    (r9 review: a NOT-NULL proof at the pin does not cover a stale
    rollup whose rows were accumulated before the constraint's
    validation scan). When every hop has fully consumed its parent
    this is the root's last applied version; when a non-root hop
    LAGS, the leaf's content derives from an OLDER parent state, so
    the exact value is walked from the ``_txns`` ledgers
    (_represented_base_version) instead of overstated as root-last
    (r9 ADVICE — the overstatement could wrongly pass the proof
    floor). None when state is 'never' OR when the walk cannot
    resolve the derivation (unknown, possibly pre-proof — the proof
    gate must skip such chains for proof-dependent measures).

    A direct rollup's applied versions ARE base versions. A
    hierarchical child's are PARENT-rollup versions, so the walk
    follows the ``_lineage`` markers (ivm.rollup_lineage — ANY
    depth, not just two hops: comparing a grandchild's stamps
    against base versions would mix version spaces, the r7
    second-review unsoundness) up to the ROOT, whose stamps are
    base versions:

    - root applied > pin → 'ahead': staged base rows entered the
      lattice; nothing downstream can be proven pre-staging.
    - root applied < pin → 'stale': every downstream state derives
      from base ≤ root-applied < pin, so serving it under stale_ok
      can never leak staged rows (base versions only grow; the
      documented rollback niche excepted).
    - root applied == pin → fresh iff EVERY hop has applied its
      parent's current version (each parent version resolved once —
      pin-at-plan); a lagging hop is 'stale' (its content derives
      from an earlier ≤-pin root state)."""
    chain = [spec.rollup_dir]
    seen = {spec.rollup_dir}
    parent = spec.parent_dir or ivm.rollup_lineage(spec.rollup_dir)
    while parent:
        if parent in seen:  # lineage cycle: refuse to serve
            return "never", None
        chain.append(parent)
        seen.add(parent)
        parent = ivm.rollup_lineage(parent)
    root_applied = ivm._applied_versions(chain[-1])
    if not root_applied:
        return "never", None
    root_last = root_applied[-1]
    if src_v is not None and root_last > src_v:
        return "ahead", root_last
    if root_last != src_v:
        # root provably lags the pin; represents is root_last only if
        # every downstream hop has fully consumed its parent — a
        # lagging hop derives from an older state, walk for the exact
        # value (same state either way, so hop 'ahead'/'never'
        # subtleties stay the fresh-root branch's concern)
        lagged = False
        for child, parent_dir in zip(chain, chain[1:]):
            ca = ivm._applied_versions(child)
            pv = SN.current_version(parent_dir)
            if not ca or pv is None or ca[-1] != pv:
                lagged = True
                break
        return "stale", (
            _represented_base_version(chain) if lagged else root_last
        )
    state = None
    for child, parent_dir in zip(chain, chain[1:]):
        ca = ivm._applied_versions(child)
        if not ca:
            return "never", None
        pv = SN.current_version(parent_dir)
        if pv is None or ca[-1] > pv:
            return "ahead", root_last
        if ca[-1] != pv:
            state = "stale"
    if state == "stale":
        return "stale", _represented_base_version(chain)
    return None, root_last


def _can_answer(
    spec: RollupSpec,
    group_by: list[str],
    aggs: dict[str, tuple[str, str]],
    filters: dict | None = None,
    range_filters: dict | None = None,
    group_exprs: dict[str, str] | None = None,
) -> str | None:
    """None if the spec can answer; else the human-readable reason
    it cannot (the first failing check — enough for the log).

    Filter rewrite soundness: an equality/IN filter — or a BETWEEN
    range — on a column the rollup GROUPS BY selects whole groups,
    so filtering the partials ≡ filtering the base rows before
    aggregating — exact. A filter on any other column slices within
    groups, which the stored partials cannot express, so the spec
    is rejected.

    Bucket keys: a BUCKET-keyed rollup column (spec.group_exprs)
    stores computed values, not a base column, so it never matches a
    PLAIN group/filter key of the same name; a requested bucket key
    (``group_exprs``: output alias → canonical expression) matches
    it by canonical-string equality — equal strings compute the
    identical deterministic function, so grouping the stored buckets
    ≡ grouping the base rows by the expression (the timezone
    precondition is checked by the caller against spec.tz)."""
    spec_exprs = dict(spec.group_exprs)
    identity = set(spec.group_cols) - set(spec_exprs)
    missing = set(group_by) - identity
    if missing:
        return f"group key(s) {sorted(missing)} not in rollup keys"
    for alias, expr in (group_exprs or {}).items():
        if expr not in spec_exprs.values():
            return (
                f"bucket group key {expr!r} not maintained by this "
                "rollup"
            )
    fcols = set(filters or ()) | set(range_filters or ())
    bad = fcols - identity
    if bad:
        return f"filter column(s) {sorted(bad)} not in rollup keys"
    derivable = DERIVABLE_BY_KIND[spec.kind]
    for out, (fn, col) in aggs.items():
        base = _fn_base(fn)
        if base not in derivable:
            return (
                f"{out}: {base} is not derivable from a {spec.kind} "
                "rollup's partials"
            )
        if base != "count" and col != spec.sum_col:
            return (
                f"{out}: rollup maintains {spec.kind}({spec.sum_col}), "
                f"not {col}"
            )
    return None


def _filter_expr(filters: dict | None, range_filters: dict | None = None):
    """AND of per-column IN lists — the reference's mandatory
    ``species = '…'`` equality (app/main.py:479) generalized to IN —
    plus per-column BETWEEN ranges (inclusive both ends, SQL
    BETWEEN). Values compare with Spark's implicit literal coercion,
    identical on the rollup and base paths (both filter the same
    column), so the rewrite-equivalence contract is unaffected."""
    expr = None
    for col, vals in sorted((filters or {}).items()):
        vlist = list(vals) if isinstance(vals, (list, tuple, set)) else [vals]
        term = F.col(col).isin(vlist)
        expr = term if expr is None else expr & term
    for col, (lo, hi) in sorted((range_filters or {}).items()):
        term = F.col(col).between(lo, hi)
        expr = term if expr is None else expr & term
    return expr


def _agg_exprs(
    aggs: dict[str, tuple[str, str]], *, from_rollup: bool,
    kind: str = "sum",
) -> list:
    """The SAME output contract from either side: count → BIGINT,
    sum → BIGINT (of the bigint-cast column, matching what
    maintain_rollup accumulates), avg → one double division at the
    end, min/max → the column's natural type (min-of-mins
    re-aggregates exactly over subset groupings),
    approx_count_distinct → BIGINT DataSketches-HLL estimate
    (union-of-partials ≡ single-pass, see DERIVABLE_BY_KIND)."""
    exprs = []
    for out, (fn, col) in aggs.items():
        if from_rollup:
            # coalesce mirrors the base path: a global aggregate over
            # zero surviving groups (fully tombstoned rollup) must
            # return 0, not NULL, on BOTH paths
            cnt = F.coalesce(F.sum("n_rows"), F.lit(0)).cast("bigint")
            if kind == "sum":
                sm = F.coalesce(F.sum("sum_val"), F.lit(0)).cast("bigint")
        else:
            cnt = F.count(F.lit(1)).cast("bigint")
            if fn in ("sum", "avg"):
                sm = F.coalesce(
                    F.sum(F.col(col).cast("bigint")), F.lit(0)
                ).cast("bigint")
        if fn == "count":
            exprs.append(cnt.alias(out))
        elif fn == "sum":
            exprs.append(sm.alias(out))
        elif fn == "avg":
            exprs.append(
                (sm.cast("double") / cnt.cast("double")).alias(out)
            )
        elif fn == "min":
            exprs.append(
                (F.min("min_val") if from_rollup else F.min(col)).alias(out)
            )
        elif fn == "max":
            exprs.append(
                (F.max("max_val") if from_rollup else F.max(col)).alias(out)
            )
        elif fn == "approx_count_distinct":
            src = (
                F.hll_union_agg("hll")
                if from_rollup
                else F.hll_sketch_agg(col)
            )
            exprs.append(F.hll_sketch_estimate(src).alias(out))
        else:  # unreachable: _can_answer gates fn per kind
            raise ValueError(f"unknown measure {fn!r}")
    return exprs


def _quantile_answer(
    df: DataFrame,
    group_by: list[str],
    aggs: dict[str, tuple[str, str]],
    *,
    from_rollup: bool,
    col: str | None = None,
) -> DataFrame:
    """Answer count/approx_percentile measures from DDSketch state —
    the quantile kind's re-aggregation path (the map measure has no
    single-agg expression, so subset groupings explode the bounded
    maps, sum per bucket, and re-collect; every exchange is bounded
    by groups × buckets). ``from_rollup`` re-merges stored partials
    (``col`` names the rollup's measured column); the base variant
    BUILDS the same sketch from rows, so rollup ≡ base is
    bit-deterministic for this tier — stronger than the hll tier's
    estimate-equivalence."""
    gb = list(group_by)
    pct = {
        out: v
        for out, v in aggs.items()
        if _fn_base(v[0]) == "approx_percentile"
    }

    def _ns_join(left: DataFrame, right: DataFrame) -> DataFrame:
        """LEFT join on the group keys with NULL-SAFE equality:
        groupBy keeps NULL keys, and a plain equi-join would drop
        every NULL-group measure from the right side (r10 second
        review — silent wrong answers for NULL group values)."""
        if not gb:
            return left.crossJoin(right)
        r = right
        for c in gb:
            r = r.withColumnRenamed(c, f"__qj_{c}")
        cond = None
        for c in gb:
            t = left[c].eqNullSafe(r[f"__qj_{c}"])
            cond = t if cond is None else cond & t
        return left.join(r, cond, "left").drop(
            *[f"__qj_{c}" for c in gb]
        )

    if from_rollup:
        # _can_answer gated the request to this kind's derivables
        # (count + approx_percentile) before routing here
        state = ivm._quantile_state_from_partials(
            df.select(*gb, "n_rows", "qsk"), gb
        ).withColumnRenamed("qsk", f"__q_{col}")
        sk_cols = {col: f"__q_{col}"}
    else:
        cols = sorted({c for _, c in pct.values()})
        state = ivm._quantile_state(
            df.select(*gb, cols[0]), gb, cols[0]
        ).withColumnRenamed("qsk", f"__q_{cols[0]}")
        for c in cols[1:]:
            extra = ivm._quantile_state(df.select(*gb, c), gb, c).select(
                *gb, F.col("qsk").alias(f"__q_{c}")
            )
            state = _ns_join(state, extra)
        sk_cols = {c: f"__q_{c}" for c in cols}
    # the internal row count lives under the reserved prefix so a
    # user measure ALIASED "n_rows" can never be ambiguous against
    # it (r10 second review)
    state = state.withColumnRenamed("n_rows", "__q_nrows")
    if not from_rollup:
        # measures BEYOND the sketch tier (sum/avg/min/max/
        # approx_count_distinct mixed into the same request — a
        # valid /aggregate shape, r10 code review) come from the
        # ordinary base aggregate, joined back on the group keys
        other = {
            out: v for out, v in aggs.items()
            if out not in pct and v[0] != "count"
        }
        if other:
            odf = df.groupBy(*gb).agg(
                *_agg_exprs(other, from_rollup=False)
            )
            state = _ns_join(state, odf)
    out_cols = []
    for out, (fn, c) in aggs.items():
        if _fn_base(fn) == "count":
            out_cols.append(
                F.col("__q_nrows").cast("bigint").alias(out)
            )
        elif out in pct:
            q = _fn_quantile(fn)
            m = sk_cols[c]
            rcol, kcol = f"__qr_{out}", f"__qk_{out}"
            state = state.withColumn(
                rcol, ivm.q_rank_expr(m, q)
            ).withColumn(kcol, ivm.q_key_expr(m, rcol))
            out_cols.append(ivm.q_value_expr(kcol).alias(out))
        else:
            out_cols.append(F.col(out))
    return state.select(*gb, *out_cols)


def answer_aggregate(
    spark: SparkSession,
    catalog: RollupCatalog,
    source_dir: str,
    group_by: list[str],
    aggs: dict[str, tuple[str, str]],
    freshness: str = "strict",
    filters: dict | None = None,
    range_filters: dict | None = None,
    version: int | None = None,
    min_source_version: int | None = None,
    group_exprs: dict[str, str] | None = None,
) -> tuple[DataFrame, dict]:
    """Answer ``SELECT group_by, aggs FROM source GROUP BY group_by``
    from the cheapest registered rollup that can serve it exactly,
    else from the base table.

    ``group_exprs`` (optional) adds TIME-BUCKET group keys: output
    alias → canonical bucket expression over the base columns
    (``ivm.canonical_bucket_expr`` vocabulary). A rollup serves them
    only when it is maintained on the IDENTICAL canonical expression
    (``_can_answer``) AND the querying session's timezone equals the
    maintenance timezone recorded in the spec — ``date_trunc`` over
    TIMESTAMP truncates in the session zone, so a zone mismatch
    would return buckets the verbatim statement would not compute.
    The base path evaluates the same expressions, so rollup ≡ base
    holds by construction. Output columns: ``group_by`` then the
    bucket aliases then the measures.

    ``aggs`` maps output column → ("count"|"sum"|"avg", column)
    (column ignored for count). Returns (df, explanation) where
    explanation records which path answered, why the rollups that
    were skipped could not, and the version the answer corresponds
    to (``source_version`` for base answers / strict-fresh rollups,
    plus ``rollup_version`` for rollup answers — a stale_ok answer's
    identity is the ROLLUP's state, not the source's, so cache keys
    must include it) — the EXPLAIN surface for the rewrite, pinned
    in tests so fallbacks can't go silent.

    Measure semantics are ivm's (n_rows, sum_val) contract, stated
    plainly: ``sum`` accumulates per-row BIGINT casts (fractional
    values truncate toward zero per row — exact for integer-valued
    measure columns, which is what the rollup maintains); ``avg``
    is Σsum / Σcount(*) (row count, not non-NULL count). Both paths
    compute the SAME definition, so rollup ≡ base always holds;
    callers needing float SUM/AVG-of-nullable semantics belong on
    the SQL surface, not the rollup rewrite.

    ``filters`` (optional) maps column → value-or-list, meaning
    ``WHERE col IN (values)`` ANDed across columns — exactly the
    reference's mandatory equality filter shape (app/main.py:479).
    A rollup answers a filtered query only when every filter column
    is one of its group keys (whole-group selection — see
    ``_can_answer``); the metadata COUNT(*) tier never answers a
    filtered query (manifest totals are unfiltered).

    The source version is resolved ONCE up front and pins the
    freshness decision AND the base-path read, so a source commit
    racing this call cannot pair version v+1's identity with
    version v's data (the submit_table_changes pin-at-submit rule).
    Pass ``version=`` to pin explicitly instead (the engine resolves
    published-when-present here, so the aggregate surface honors the
    same write-audit-publish read contract as the snap_ SQL views);
    a rollup is then "fresh" only if its last applied version equals
    THAT pin.

    Among eligible fresh rollups the CHEAPEST answers: fewest
    physical rows by manifest rowcounts (falling back to fewest
    group columns when counts are unrecorded), name-tiebroken — the
    runner-ups land in ``skipped`` with the cost they lost on, so
    the choice is auditable.

    ``min_source_version`` (optional) is the proof floor for
    NOT-NULL-gated measures: a rollup whose chain REPRESENTS a base
    version older than it (possible only under ``stale_ok``) is
    skipped — its rows were accumulated before the constraint's
    validation scan, so the gate's proof does not cover them (r9
    second review).
    """
    if freshness not in ("strict", "stale_ok"):
        raise ValueError(
            f"freshness must be strict|stale_ok, got {freshness!r}"
        )
    src = os.path.abspath(source_dir)
    src_v = SN.current_version(src) if version is None else version
    for alias, expr in (group_exprs or {}).items():
        canon, _ = ivm.canonical_bucket_expr(expr)  # closed vocabulary
        if canon != expr:
            raise ValueError(
                f"group_exprs[{alias!r}] must be canonical "
                f"({canon!r}), got {expr!r}"
            )
        if alias in (group_by or []) or alias in aggs:
            raise ValueError(
                f"bucket alias {alias!r} collides with another "
                "output column"
            )
        if alias in _ROLLUP_INTERNAL or alias.startswith("__"):
            # the rollup path withColumns the alias BEFORE
            # re-aggregating the stored partials — an alias named
            # n_rows/sum_val/... would clobber the very partial
            # _agg_exprs reads (r11 code review: silently wrong
            # rewrite answers)
            raise ValueError(
                f"bucket alias {alias!r} collides with the rewrite's "
                "reserved partial columns"
            )
    for col, bounds in (range_filters or {}).items():
        if not isinstance(bounds, (list, tuple)) or len(bounds) != 2:
            raise ValueError(
                f"range_filters[{col!r}] must be a (lo, hi) pair"
            )
    fexpr = (
        _filter_expr(filters, range_filters)
        if (filters or range_filters)
        else None
    )
    skipped: list[dict] = []
    # Cheapest tier first — metadata-only: an unfiltered global
    # COUNT(*) is exactly the manifest's recorded per-file row-count
    # sum (the Delta-log answer path): zero data reads, zero Spark
    # jobs, and trivially version-exact. Only when every requested
    # measure is a count, there is no grouping and no filter; any
    # gap in the recorded counts falls through (never a wrong
    # number).
    if (
        not group_by
        and not group_exprs
        and not filters
        and not range_filters
        and all(fn == "count" for fn, _ in aggs.values())
    ):
        n = SN.table_rowcount(src, version=src_v)
        if n is not None:
            from pyspark.sql.types import LongType, StructField, StructType

            # explicit StructType, not a DDL string: output names are
            # caller-chosen and need not be valid DDL identifiers
            schema = StructType(
                [StructField(out, LongType(), False) for out in aggs]
            )
            df = spark.createDataFrame([tuple(n for _ in aggs)], schema)
            return df, {
                "used": "metadata",
                "rollup": None,
                "source_version": src_v,
                "skipped": skipped,
            }
        skipped.append(
            {"rollup": None, "reason": "manifest rowcounts incomplete"}
        )
    # collect EVERY eligible fresh rollup (version-pinned at
    # evaluation time — the same pin-at-plan rule as src_v above, or
    # a racing maintenance commit stamps v+1's identity onto v's
    # data and poisons the stale_ok cache), then answer from the
    # cheapest by recorded rowcount
    eligible: list[tuple[float, int, str, RollupSpec, int]] = []
    tz = spark.conf.get("spark.sql.session.timeZone")
    for spec in catalog.specs():
        if spec.source_dir != src:
            continue
        reason = _can_answer(
            spec, group_by, aggs, filters, range_filters, group_exprs
        )
        if reason is not None:
            skipped.append({"rollup": spec.name, "reason": reason})
            continue
        if group_exprs and spec.tz != tz:
            # serving stored buckets under a different session zone
            # would answer with keys the verbatim statement would not
            # compute (date_trunc truncates in the session zone)
            skipped.append(
                {
                    "rollup": spec.name,
                    "reason": (
                        f"bucket keys maintained under timezone "
                        f"{spec.tz!r}, session is {tz!r}"
                    ),
                }
            )
            continue
        state, represents = _chain_freshness(spec, src_v)
        if state == "never":
            skipped.append(
                {"rollup": spec.name, "reason": "never applied"}
            )
            continue
        # stale_ok opts into OLDER data, never NEWER-than-the-pin
        # data: with the source pinned at its published version, a
        # rollup (or any hop of a hierarchical chain) maintained
        # past the pin holds staged un-audited rows — serving it
        # would leak them through the aggregate surface (r7
        # code-review finding). Behind-or-at the pin is the only
        # eligible stale state.
        if state == "ahead":
            skipped.append(
                {
                    "rollup": spec.name,
                    "reason": (
                        "ahead of the version pin (staged rows would "
                        "leak)"
                    ),
                }
            )
            continue
        if freshness == "strict" and state is not None:
            skipped.append(
                {
                    "rollup": spec.name,
                    "reason": "stale (chain not applied to source pin)",
                }
            )
            continue
        # proof-dependent measures (NOT-NULL-gated SUM/AVG/COUNT(col))
        # are proven at the PIN; a stale_ok answer represents the
        # version its chain's content actually derives from, which
        # must not predate the proof's validation scan or the
        # rollup's NULL→0 accumulation could cover rows the
        # constraint never saw. represents=None here means the
        # derivation is unresolvable (chain-lagged pre-log state) —
        # possibly pre-proof, so it must skip too (r9 ADVICE)
        if min_source_version is not None and (
            represents is None or represents < min_source_version
        ):
            skipped.append(
                {
                    "rollup": spec.name,
                    "reason": (
                        (
                            f"represents source v{represents}, before "
                            if represents is not None
                            else "represented source version "
                            "unresolvable (chain-lagged), possibly "
                            "before "
                        )
                        + f"the NOT-NULL proof's validation scan "
                        f"(v{min_source_version}) — proof-dependent "
                        "measures cannot serve from it"
                    ),
                }
            )
            continue
        rollup_v = SN.current_version(spec.rollup_dir)
        rows = SN.table_rowcount(spec.rollup_dir, version=rollup_v)
        cost = float(rows) if rows is not None else float("inf")
        eligible.append(
            (cost, len(spec.group_cols), spec.name, spec, rollup_v)
        )
    if eligible:
        eligible.sort(key=lambda t: t[:3])
        cost, _, _, spec, rollup_v = eligible[0]
        for c, _, _, other, _ in eligible[1:]:
            skipped.append(
                {
                    "rollup": other.name,
                    "reason": (
                        f"eligible but costlier than {spec.name} "
                        f"({c:.0f} vs {cost:.0f} rollup rows)"
                    ),
                }
            )
        df = ivm.read_rollup(spark, spec.rollup_dir, version=rollup_v)
        if fexpr is not None:
            df = df.where(fexpr)
        out_keys = list(group_by)
        if group_exprs:
            # surface each stored bucket column under the caller's
            # alias (canonical-expr equality located the column) —
            # in ONE select, so every alias reads the ORIGINAL
            # stored column: sequential withColumn would let an
            # alias that equals another spec's stored column name
            # (SELECT month AS d, day AS m over a rollup storing
            # d=day, m=month) overwrite the source before the next
            # alias reads it, silently swapping buckets (r11 code
            # review)
            by_expr = {e: c for c, e in spec.group_exprs}
            proj = [
                F.col(by_expr[expr]).alias(alias)
                for alias, expr in group_exprs.items()
            ]
            proj += [
                F.col(c)
                for c in df.columns
                if c not in group_exprs
            ]
            df = df.select(*proj)
            out_keys.extend(group_exprs)
        if spec.kind == "quantile":
            df = _quantile_answer(
                df, out_keys, aggs, from_rollup=True, col=spec.sum_col
            )
        else:
            df = df.groupBy(*out_keys).agg(
                *_agg_exprs(aggs, from_rollup=True, kind=spec.kind)
            )
        return df, {
            "used": "rollup",
            "rollup": spec.name,
            "rollup_dir": spec.rollup_dir,
            "rollup_version": rollup_v,
            "source_version": src_v,
            "skipped": skipped,
        }
    base = SN.read_snapshot(spark, src, version=src_v)
    if fexpr is not None:
        base = base.where(fexpr)
    out_keys = list(group_by)
    for alias, expr in (group_exprs or {}).items():
        # the caller (semantic layer / engine gate) guarantees the
        # alias does not collide with a base column, so withColumn
        # adds rather than silently replaces
        base = base.withColumn(alias, F.expr(expr))
        out_keys.append(alias)
    if any(
        _fn_base(fn) == "approx_percentile" for fn, _ in aggs.values()
    ):
        df = _quantile_answer(base, out_keys, aggs, from_rollup=False)
    else:
        df = base.groupBy(*out_keys).agg(
            *_agg_exprs(aggs, from_rollup=False)
        )
    return df, {
        "used": "base",
        "rollup": None,
        "source_version": src_v,
        "skipped": skipped,
    }


def answer_join_aggregate(
    spark: SparkSession,
    catalog: RollupCatalog,
    fact_dir: str,
    dims: list[dict],
    fact_group_by: list[str],
    aggs: dict[str, tuple[str, str]],
    freshness: str = "strict",
    fact_filters: dict | None = None,
    fact_range_filters: dict | None = None,
    fact_version: int | None = None,
    min_source_version: int | None = None,
) -> tuple[DataFrame | None, dict]:
    """Answer ``SELECT dims, aggs FROM fact INNER JOIN dim_i ON
    fact.fk_i = dim_i.pk_i GROUP BY dims`` with the fact side served
    from a rollup (r9 VERDICT #2; generalized from one dim to a
    multi-dim star in the r10 second pass — the reference's users
    group a fact by several dimension attributes at once,
    app/main.py:479 assembles exactly such SELECTs).

    ``dims`` is a list of per-spoke specs::

        {"dim_dir": path, "fk": col, "pk": col,
         "group_by": [cols], "filters": {...} | None,
         "range_filters": {...} | None, "version": int | None,
         "fk_side": "fact" | earlier spoke index}

    ``fk_side`` (default "fact") marks a SNOWFLAKE hop (r10 VERDICT
    #4b): the fk lives in an EARLIER spoke's dim — ``orders ⋈
    customer ⋈ nation ON c_nationkey = n_nationkey``. The hop stays
    inside the recombination algebra because every spoke's pk is
    UNIQUE-proven: each (partial ⋈ dim_k) row reaches ≤1 dim_j row,
    so the composed join is still 1:≤1 per partial. The bridging
    column is carried through dim_k's projection under a reserved
    alias and never collides with fact columns.

    Decomposition: every requested measure is re-expressed as
    fk-level PARTIALS (sum→sum, count→count, min/max→min/max,
    avg→sum+count) and the partial aggregate is delegated to
    :func:`answer_aggregate` grouped by ``[fk_1..fk_n] +
    fact_group_by`` (deduped) — so the rollup lattice, freshness
    ladder, proof floor, and cheapest-pick audit all apply unchanged.
    The ≤ ∏|dim|-row partial result then joins each PINNED dim in
    turn (inner equi-join on the UNIQUE-proven ``pk`` — 1:≤1 per
    spoke by the write-enforced constraint, so re-aggregating joined
    partials is the plain rollup algebra) and recombines per
    measure: Σsum, Σcount, min-of-mins, max-of-maxes, Σsum/Σcount
    for avg — the same output-type contract as :func:`_agg_exprs`.

    Exactness notes the gate (semantic_gate_join) relies on:
    NULL fks drop on both paths (never equal to pk); fact filters
    are whole-group selections validated by _can_answer; dim
    filters/grouping run on each dim itself at FULL fidelity (any
    eq/IN/BETWEEN column — dims are not served from partials).

    Returns ``(df, why)``; ``df`` is None when the fact side would
    answer from base (the caller's verbatim statement IS that plan —
    nothing to gain) — ``why`` still carries the audit. At 100 TB the
    fact scan is the cost that matters: a rollup-answered star
    aggregate reads |rollup| + Σ|dim| rows and zero fact files.
    """
    partials: dict[str, tuple[str, str]] = {}
    plan: dict[str, tuple[str, str | None, str | None]] = {}

    def _partial(fn: str, col: str) -> str:
        # parameterized fns carry '@q' — keep the alias identifier-safe
        # (a dotted name would parse as struct access downstream)
        safe = fn.replace("@", "_q").replace(".", "_")
        name = f"__jp_{safe}_{col}" if col else "__jp_cnt"
        partials[name] = (fn, col)
        return name

    est_requested = any(
        _fn_base(fn) in ("approx_percentile", "approx_count_distinct")
        for fn, _ in aggs.values()
    )
    if est_requested:
        # estimate-tier pass-through (r10 VERDICT #6): a final
        # estimate cannot be re-merged, so it is join-servable ONLY
        # when the output grouping preserves the partial grouping
        # 1:1 — every fact-side fk must be a final group key
        # (directly in fact_group_by, or as the dim's same-spelled pk
        # in its group_by). The gate proves this for /sql callers;
        # programmatic callers fail loudly here.
        for d in dims:
            if d.get("fk_side", "fact") != "fact":
                continue
            fk, pk = d["fk"], d["pk"]
            if fk in fact_group_by:
                continue
            if pk == fk and pk in (d.get("group_by") or ()):
                continue
            raise ValueError(
                f"estimate-tier measures need every join fk grouped "
                f"({fk!r} is not) — the final estimate cannot be "
                "re-merged across partial groups"
            )
    for out, (fn, col) in aggs.items():
        base_fn = _fn_base(fn)
        if fn == "count":
            # COUNT(col) reaches here only under the NOT-NULL proof,
            # where it equals the row count
            plan[out] = ("count", _partial("count", ""), None)
        elif fn == "sum":
            plan[out] = ("sum", _partial("sum", col), None)
        elif fn == "avg":
            plan[out] = (
                "avg", _partial("sum", col), _partial("count", "")
            )
        elif fn in ("min", "max"):
            plan[out] = (fn, _partial(fn, col), None)
        elif base_fn in ("approx_percentile", "approx_count_distinct"):
            # pass-through: with 1:1 grouping each final group holds
            # exactly one partial row, so MIN is the identity read
            plan[out] = ("pass", _partial(fn, col), None)
        else:
            raise ValueError(f"{fn!r} cannot recombine across a join")
    # GROUP BY on a join key itself is a legal star shape — dedupe so
    # the partial grouping never carries a column twice (duplicate
    # columns make the later equi-joins ambiguous, r10 code review).
    # Only FACT-side fks group the partials; a snowflake hop's fk is
    # a dim column that joins in later.
    pgb: list[str] = []
    for c in [
        d["fk"] for d in dims if d.get("fk_side", "fact") == "fact"
    ] + list(fact_group_by):
        if c not in pgb:
            pgb.append(c)
    pdf, why = answer_aggregate(
        spark,
        catalog,
        fact_dir,
        pgb,
        partials,
        freshness=freshness,
        filters=fact_filters,
        range_filters=fact_range_filters,
        version=fact_version,
        min_source_version=min_source_version,
    )
    join_audit = []
    for d in dims:
        dim_v = (
            SN.current_version(os.path.abspath(d["dim_dir"]))
            if d.get("version") is None
            else d["version"]
        )
        d["_v"] = dim_v
        join_audit.append(
            {
                "dim_dir": os.path.abspath(d["dim_dir"]),
                "dim_version": dim_v,
                "on": [d["fk"], d["pk"]],
            }
        )
    why = dict(why, join=join_audit)
    if why["used"] == "base":
        return None, why
    joined = pdf
    final_groups: list[str] = []
    for i, d in enumerate(dims):
        dim = SN.read_snapshot(spark, d["dim_dir"], version=d["_v"])
        dexpr = (
            _filter_expr(d.get("filters"), d.get("range_filters"))
            if (d.get("filters") or d.get("range_filters"))
            else None
        )
        if dexpr is not None:
            dim = dim.where(dexpr)
        # each pk lands under a reserved name so a same-named fact
        # column (fk == pk spelling) can never collide in the join
        # output; a GROUP BY on the pk itself reads the joined value
        # back from it. Snowflake bridging columns (a LATER spoke's
        # fk living in THIS dim) ride along under reserved aliases.
        pk, fk = d["pk"], d["fk"]
        dgb = list(d.get("group_by") or ())
        dim_sel = [F.col(pk).alias(f"__jp_pk{i}")] + [
            F.col(c) for c in dgb if c != pk
        ]
        for lj, later in enumerate(dims):
            if later.get("fk_side", "fact") == i:
                dim_sel.append(
                    F.col(later["fk"]).alias(f"__jp_fk{lj}")
                )
        left_key = (
            F.col(fk)
            if d.get("fk_side", "fact") == "fact"
            else F.col(f"__jp_fk{i}")
        )
        joined = joined.join(
            dim.select(*dim_sel),
            left_key == F.col(f"__jp_pk{i}"),
            "inner",
        )
        if pk in dgb:
            joined = joined.withColumn(pk, F.col(f"__jp_pk{i}"))
        final_groups += dgb
    final_groups += list(fact_group_by)
    exprs = []
    for out, (fn, p1, p2) in plan.items():
        if fn == "count":
            exprs.append(
                F.coalesce(F.sum(p1), F.lit(0)).cast("bigint").alias(out)
            )
        elif fn == "sum":
            exprs.append(
                F.coalesce(F.sum(p1), F.lit(0)).cast("bigint").alias(out)
            )
        elif fn == "avg":
            exprs.append(
                (F.sum(p1).cast("double") / F.sum(p2).cast("double"))
                .alias(out)
            )
        elif fn == "min":
            exprs.append(F.min(p1).alias(out))
        elif fn == "pass":
            # 1:1 grouping (enforced above): one partial row per
            # final group, MIN reads it back unchanged
            exprs.append(F.min(p1).alias(out))
        else:
            exprs.append(F.max(p1).alias(out))
    df = joined.groupBy(*final_groups).agg(*exprs)
    return df, why
