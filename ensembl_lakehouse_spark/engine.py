"""Engine facade: the reference's eight-endpoint surface as methods.

Wires catalog + query builder + semantic cache + job registry +
preview + export into one object. The (optional) HTTP layer in
``api/`` is a thin adapter over this; all semantics live here so the
engine is fully usable embedded (tests, notebooks, bench).

Endpoint mapping (reference app/main.py):

| Method                  | Reference endpoint                         |
|-------------------------|--------------------------------------------|
| banner()                | GET /               (:88-100)              |
| data_types()            | GET /data_types     (:103-134)             |
| filters(dt)             | GET /filters/{dt}   (:137-203)             |
| result_file_formats()   | GET /result_file_formats (:206-231)        |
| submit_query(...)       | GET /query/{dt}/{species} (:427-503)       |
| query_status(qid)       | GET /query/{qid}/status   (:234-277)       |
| query_preview(qid, n)   | GET /query/{qid}/preview  (:361-424)       |
| export(qid, fmt)        | GET /query/{qid}/export   (:280-358)       |
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ensembl_lakehouse_spark.catalog import Catalog
from ensembl_lakehouse_spark.plans.canonical import cache_key, canonical_sql_text
from ensembl_lakehouse_spark.service.params import (
    PARAM_SPECS,
    ParamError,
    params_cache_suffix,
    resolve_params,
)
from ensembl_lakehouse_spark.query import QueryValidationError, build_df
from ensembl_lakehouse_spark.service.cache import KVCache
from ensembl_lakehouse_spark.service.export import SUPPORTED_FILE_FORMATS, ExportManager
from ensembl_lakehouse_spark.service.jobs import QueryRegistry, SUCCEEDED
from ensembl_lakehouse_spark.service.preview import preview as _preview
from ensembl_lakehouse_spark.service.urls import UrlSigner


def _read_pin(table_dir: str, pinned: int | None = None) -> int | None:
    """The version a consumer read of ``table_dir`` pins: an explicit
    ``snap_versions`` pin when given, else the PUBLISHED version, else
    the current one — the write-audit-publish contract that keeps
    staged rows out of /sql and /aggregate."""
    from ensembl_lakehouse_spark import snapshots as _SN

    if pinned is not None:
        return pinned
    v = _SN.published_version(table_dir)
    return v if v is not None else _SN.current_version(table_dir)


def _proven_non_null(table_dir: str, pin_v: int | None) -> dict[str, int]:
    """Columns proven non-NULL at the pinned version → the
    ``since_version`` of the proving constraint: a write-enforced
    ``col IS NOT NULL`` CHECK whose validation scan the pin
    postdates (rollback refuses to cross ``since_version``, so the
    induction holds for every version ≥ it — and ONLY for those:
    a stale_ok rollup representing an older version needs the
    since_version as a floor, r9 second review). Shared by the /sql
    rewrite gate and /aggregate's COUNT(col) gate — one proof, two
    surfaces. Dict membership keeps semantic_gate's set-style
    ``col in non_null_cols`` checks working unchanged."""
    import re as _re

    from ensembl_lakehouse_spark import snapshots as _SN

    return {
        m.group(1).lower(): rec["since_version"]
        for rec in _SN.constraint_records(table_dir).values()
        if rec["since_version"] is not None
        and pin_v is not None
        and pin_v >= rec["since_version"]
        and (
            m := _re.fullmatch(
                r"\s*([A-Za-z_][A-Za-z0-9_]*)\s+is\s+not\s+null\s*",
                rec["expr"],
                _re.I,
            )
        )
    }


def _proven_unique(table_dir: str, pin_v: int | None) -> dict[str, int]:
    """column -> since_version for every write-enforced UNIQUE
    constraint whose validation scan the pinned version postdates —
    the dim-key proof the /sql join rewrite gates on (the exact
    analogue of _proven_non_null's induction, shared store, shared
    rollback floor)."""
    from ensembl_lakehouse_spark import snapshots as _SN

    return {
        rec["col"].lower(): rec["since_version"]
        for rec in _SN.unique_constraint_records(table_dir).values()
        if rec["since_version"] is not None
        and pin_v is not None
        and pin_v >= rec["since_version"]
    }


def _proof_floor(
    non_null: dict[str, int], aggs: dict[str, tuple[str, str]]
) -> int | None:
    """The minimum source version a rollup answer must REPRESENT for
    the NOT-NULL-gated measures in ``aggs`` (SUM/AVG, COUNT(col)) to
    stay proven: the max since_version among the columns the proof
    actually covers. None when no measure depends on a proof."""
    needed = {
        col.lower()
        for fn, col in aggs.values()
        if (fn in ("sum", "avg") and col) or (fn == "count" and col)
    }
    # unproven columns were already refused by the caller's gate, so
    # every needed column is in the map here — enforce it: a caller
    # that forgot its gate must fail loudly, not silently get
    # floor=None and serve unproven measures (r9 ADVICE)
    missing = needed - set(non_null)
    if missing:
        raise ValueError(
            "proof-floor invariant violated: column(s) "
            f"{sorted(missing)} have no NOT-NULL proof at the pin — "
            "the caller's gate must refuse them before pricing a floor"
        )
    floors = [non_null[c] for c in needed]
    return max(floors) if floors else None


def _apply_having(df, terms):
    """Filter aggregated rows by (alias, SQL op, literal) triples —
    the shared application step for /sql HAVING and /aggregate's
    ``having`` parameter. NULL comparisons drop the row on both the
    rewritten and base paths (SQL UNKNOWN ≡ Spark where())."""
    from pyspark.sql import functions as F

    for alias, op, lit in terms:
        c = F.col(alias)
        lv = F.lit(lit)
        cond = {
            "=": c == lv, "<>": c != lv, "<": c < lv,
            ">": c > lv, "<=": c <= lv, ">=": c >= lv,
        }[op]
        df = df.where(cond)
    return df


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        cache: KVCache | None = None,
    ):
        self.spark = spark
        self.cache = cache if cache is not None else KVCache()
        self.catalog = Catalog(spark, cache=self.cache)
        self.registry = QueryRegistry(
            spark, results_dir=os.path.join(work_dir, "results"), cache=self.cache
        )
        self.exports = ExportManager(
            export_dir=os.path.join(work_dir, "exports"), cache=self.cache
        )
        self.signer = UrlSigner()
        #: name -> table_dir for snapshot tables exposed over HTTP
        #: (the CDC surface) — registration is explicit and local,
        #: never a request-supplied path (path-traversal surface).
        self._snapshot_tables: dict[str, str] = {}
        #: registered materialized-view rollups answering /aggregate
        #: (plans/rewrite.py); registration is operator-side only,
        #: same trust boundary as _snapshot_tables.
        from ensembl_lakehouse_spark.plans.rewrite import RollupCatalog

        self._rollups = RollupCatalog()
        #: serializes snap_ view registration with the analysis of
        #: the statement that reads them: temp views are
        #: session-global, so a concurrent /sql with a DIFFERENT
        #: snap_versions pin must not re-register a view between
        #: this request's refresh and its spark.sql() analysis (the
        #: df would bind one file list while the cache key names
        #: another)
        import threading

        self._sql_view_lock = threading.Lock()

    # -- metadata endpoints ------------------------------------------

    def banner(self) -> str:
        return (
            "ensembl_lakehouse_spark: PySpark-native analytics engine — "
            "submit queries via submit_query(data_type, key_value, fields, condition)"
        )

    def data_types(self) -> list[str]:
        return self.catalog.list_data_types()

    def filters(self, data_type: str) -> dict:
        """Reference response shape: columns + key values
        (app/main.py:198, golden response postman_collection.json:102)."""
        if not data_type or not data_type.strip():
            raise QueryValidationError("data_type must be non-blank")
        columns = [c.as_reference_shape() for c in self.catalog.describe_table(data_type)]
        out: dict = {"columns": columns}
        if self.catalog.key_column(data_type) is not None:
            out["species"] = self.catalog.list_key_values(data_type)
        return out

    def result_file_formats(self) -> list[str]:
        cached = self.cache.get("result_file_formats")
        if cached is not None:
            return cached
        formats = list(SUPPORTED_FILE_FORMATS)
        self.cache.set("result_file_formats", formats)
        return formats

    # -- query lifecycle ---------------------------------------------

    def submit_query(
        self,
        data_type: str,
        key_value: str,
        fields: str | None = None,
        condition: str | None = None,
    ) -> dict:
        """Build plan → semantic-cache probe → async submit → HAL-ish
        response (reference app/main.py:427-503)."""
        for name, value in (("data_type", data_type), ("species", key_value)):
            if value is None or not str(value).strip():
                raise QueryValidationError(f"{name} must be non-blank")
        df = build_df(self.catalog, data_type.strip(), key_value.strip(), fields, condition)
        key = cache_key(data_type, key_value, fields, condition)
        query_id = self.registry.submit(df, cache_key=key)
        return {
            "query_id": query_id,
            "_links": {
                "self": f"/query/{data_type}/{key_value}",
                "status": f"/query/{query_id}/status",
                "preview": f"/query/{query_id}/preview",
                "export": f"/query/{query_id}/export",
            },
        }

    def submit_analytics(
        self, name: str, sf_dir: str, params: dict | None = None
    ) -> dict:
        """Submit a NAMED analytics query (any operator from the
        driver contract's ``queries()`` registry — dedup, similarity,
        BM25, graph, sketches, …) through the SAME async lifecycle as
        submit_query: semantic cache, 5-state machine, preview,
        export, presigned URLs. This is the extension surface the
        reference never had — its API stops at single-table SELECTs
        (app/main.py:479); here the whole operator library is a
        service endpoint.

        The cache key is (name, sf_dir): operators are deterministic
        functions of their input directory, so a repeat submission
        returns the prior query id with no Spark job — probed BEFORE
        the operator function runs, because some operators (the
        in-engine-trained classifier, checkpointing dedups) execute
        Spark jobs while BUILDING their plan. sf_dir goes into the
        key verbatim (it is a filesystem path — the projection-list
        canonicalizer would case-fold it and split on commas,
        colliding distinct directories).
        """
        import __spark_entry__ as contract  # repo-root driver registry

        if not name or not str(name).strip():
            raise QueryValidationError("name must be non-blank")
        qs = contract.queries()
        if name not in qs:
            raise QueryValidationError(
                f"unknown analytics query {name!r}; see /analytics for names"
            )
        # per-request overrides for parameterizable operators (the
        # reference's fields/condition freedom, app/main.py:460-466,
        # extended to the analytics library): validated/coerced by
        # service/params.py, fail-closed on anything undeclared.
        # Values equal to the oracle-pinned defaults are dropped
        # during resolution, so explicit-default requests share the
        # bare submission's cache entry.
        try:
            resolved = resolve_params(name, params)
        except ParamError as exc:
            raise QueryValidationError(str(exc)) from exc
        key = f"analytics\x1f{name}\x1f{sf_dir}" + params_cache_suffix(resolved)
        query_id = self.registry.cached_query_id(key)
        if query_id is None:
            df = qs[name](self.spark, sf_dir, **resolved)
            query_id = self.registry.submit(df, cache_key=key)
        return {
            "query_id": query_id,
            "_links": {
                "self": f"/analytics/{name}",
                "status": f"/query/{query_id}/status",
                "preview": f"/query/{query_id}/preview",
                "export": f"/query/{query_id}/export",
            },
        }

    #: Logical-plan roots a read-only query may parse to. Anything
    #: else (DDL/DML parse to *Command/CreateTable/InsertInto…) is
    #: rejected BEFORE spark.sql() ever runs — Spark executes
    #: commands eagerly on construction, so the gate must sit at the
    #: parser, not on the DataFrame. Whitelist, not blacklist: an
    #: unrecognized root fails closed.
    _SQL_QUERY_ROOTS = frozenset(
        {
            "Project", "Aggregate", "Filter", "Sort", "GlobalLimit",
            "LocalLimit", "Distinct", "Deduplicate", "Union", "Intersect",
            "Except", "UnresolvedWith", "SubqueryAlias", "UnresolvedRelation",
            "Join", "UnresolvedHaving", "WithWindowDefinition", "Offset",
            "Tail", "Pivot", "Unpivot", "UnresolvedSubqueryColumnAliases",
        }
    )

    def _parse_snap_pins(self, snap_versions: str) -> dict[str, int]:
        """The /sql ``snap_versions`` parameter (``name:v,name2:v``)
        as a dict, validated against the registered tables."""
        pins: dict[str, int] = {}
        for item in (snap_versions or "").split(","):
            item = item.strip()
            if not item:
                continue
            name, sep, ver = item.partition(":")
            name = name.strip()
            if not sep or name not in self._snapshot_tables:
                raise QueryValidationError(
                    f"snap_versions: unknown snapshot table {name!r} "
                    "(want name:version; see /table for names)"
                )
            try:
                pins[name] = int(ver)
            except ValueError:
                raise QueryValidationError(
                    "snap_versions versions must be integers"
                ) from None
        return pins

    def _validated_sql_df(self, sql: str, snap_versions: str = ""):
        """Shared validation for submit_sql and explain_sql: blank
        check, snap_versions pin parsing, read-only parse-root gate,
        and the atomic view-refresh + analysis step. Returns
        (df, snap view fingerprint)."""
        if not sql or not sql.strip():
            raise QueryValidationError("sql must be non-blank")
        pins = self._parse_snap_pins(snap_versions)
        parser = self.spark._jsparkSession.sessionState().sqlParser()
        try:
            root = parser.parsePlan(sql).getClass().getSimpleName()
        except Exception as exc:
            raise QueryValidationError(f"SQL does not parse: {exc}") from exc
        if root not in self._SQL_QUERY_ROOTS:
            raise QueryValidationError(
                f"only read-only queries are accepted (statement parses to "
                f"{root})"
            )
        # view refresh and statement ANALYSIS (spark.sql is eager)
        # are one atomic step: a concurrent submit with different
        # pins must not swap a snap_ view under this statement
        with self._sql_view_lock:
            snap_fp = self._refresh_snapshot_views(pins)
            try:
                df = self.spark.sql(sql)
            except Exception as exc:
                raise QueryValidationError(
                    f"SQL does not bind: {exc}"
                ) from exc
        return df, snap_fp

    def _try_sql_rewrite(
        self,
        sql: str,
        pins: dict[str, int],
        allow_estimates: bool,
        freshness: str,
    ):
        """Attempt the MV rewrite for a raw-SQL statement (VERDICT r8
        #2 — the reference's whole query surface is SQL text,
        app/main.py:479, so an aggregate a rollup could answer must
        not pay the base scan just because it arrived as text).

        Returns ``(df, audit)``: ``df`` is the rewritten plan when a
        rollup or the metadata tier answers, else None (the caller
        runs the statement verbatim — bit-identical semantics by
        construction). ``audit`` is the wire-visible decision record:
        eligibility, the answering path, and per-rollup skip reasons
        (the same ``answered_by``/``skipped`` vocabulary as
        /table/{name}/aggregate). Exactness is two-layer: the strict
        grammar (plans/sql_rewrite.py) proves the statement's shape,
        ``semantic_gate`` proves the measures reproduce against the
        table's schema; anything unproven falls back loudly in the
        audit, never silently to a different answer."""
        from pyspark.sql import functions as F

        from ensembl_lakehouse_spark import snapshots as _SN
        from ensembl_lakehouse_spark.plans import rewrite as _RW
        from ensembl_lakehouse_spark.plans.sql_rewrite import (
            parse_aggregate_sql,
            semantic_gate,
        )

        intent = parse_aggregate_sql(sql)
        if intent is not None and intent.used_ordinals and (
            self.spark.conf.get(
                "spark.sql.groupByOrdinal", "true"
            ).lower() != "true"
        ):
            # positional resolution matched Spark's default only —
            # with the conf off, the verbatim statement groups by the
            # integer LITERAL, so serving per-position groups would
            # change the answer (r11 code review)
            return None, {
                "eligible": False,
                "reason": "GROUP BY ordinal recognized but "
                "spark.sql.groupByOrdinal is disabled on this "
                "session — the verbatim statement groups by the "
                "literal",
            }
        if intent is not None and intent.joins:
            return self._try_sql_join_rewrite(
                intent, pins, allow_estimates, freshness
            )
        if intent is None:
            return None, {
                "eligible": False,
                "reason": "statement outside the rewrite grammar "
                "(single snap_ view — optionally INNER equi-joins "
                "to snap_ dims (star) — grouped derivable "
                "aggregates, eq/IN/BETWEEN filters)",
            }
        if intent.table not in self._snapshot_tables:
            return None, {
                "eligible": False,
                "reason": f"snap_{intent.table} is not a registered "
                "snapshot table",
            }
        table_dir = self._snapshot_tables[intent.table]
        pin_v = _read_pin(table_dir, pins.get(intent.table))
        try:
            schema = _SN.read_snapshot(
                self.spark, table_dir, version=pin_v
            ).schema
        except (FileNotFoundError, ValueError, KeyError) as exc:
            return None, {
                "eligible": False,
                "reason": f"table unreadable at version {pin_v}: {exc}",
            }
        non_null = _proven_non_null(table_dir, pin_v)
        gate = semantic_gate(intent, schema, allow_estimates, non_null)
        if gate is not None:
            return None, {"eligible": False, "reason": gate}
        try:
            df, why = _RW.answer_aggregate(
                self.spark,
                self._rollups,
                table_dir,
                list(intent.group_by),
                intent.aggs,
                freshness=freshness,
                filters=intent.filters or None,
                range_filters=intent.range_filters or None,
                version=pin_v,
                min_source_version=_proof_floor(non_null, intent.aggs),
                group_exprs=dict(intent.group_exprs) or None,
            )
        except Exception as exc:  # analysis-time oddity → verbatim run
            return None, {
                "eligible": False,
                "reason": f"rewrite planning failed: {exc}",
            }
        audit = {
            "eligible": True,
            "answered_by": (
                why["rollup"] if why["used"] == "rollup" else why["used"]
            ),
            "source_version": why["source_version"],
            "rollup_version": why.get("rollup_version"),
            "skipped": why["skipped"],
        }
        if why["used"] == "base":
            # nothing to gain: the verbatim statement IS the base
            # plan, and running the original text keeps /sql
            # semantics beyond question
            return None, audit
        return self._finish_sql_rewrite(df, intent), audit

    def _finish_sql_rewrite(self, df, intent):
        """The shared post-aggregate tail for both rewrite families:
        HAVING runs on the aggregated values BEFORE the output
        projection (hidden __having_N measures exist only here);
        every filtered measure is exact-tier (the gates refuse
        estimate-tier filters), so the surviving row SET matches the
        verbatim statement's by construction. Then the SELECT-list
        re-projection, ORDER BY, LIMIT."""
        from pyspark.sql import functions as F

        df = _apply_having(df, intent.having)
        df = df.select(*intent.select_order)
        if intent.order_by:
            df = df.orderBy(
                *[
                    F.col(c).asc() if asc else F.col(c).desc()
                    for c, asc in intent.order_by
                ]
            )
        if intent.limit is not None:
            df = df.limit(intent.limit)
        return df

    def _try_sql_join_rewrite(
        self,
        intent,
        pins: dict[str, int],
        allow_estimates: bool,
        freshness: str,
    ):
        """The dimension-join branch of the /sql MV rewrite (r9
        VERDICT #2; multi-dim star since the r10 second pass):
        ``fact INNER JOIN dim_i ON fact.fk_i = dim_i.pk_i``
        aggregates answer from an fk-keyed rollup joined to each
        PINNED dim — zero fact files read — when every dim key
        carries a write-enforced UNIQUE proof at its pin and every
        measure passes the same exactness proofs as the single-table
        gate (semantic_gate_join). Audit vocabulary is identical,
        plus a ``join`` list naming each dim and its pinned version.

        ``allow_estimates`` gates the one estimate-tier shape that IS
        join-servable (r10 VERDICT #6): when every join fk is itself
        a group key the output grouping preserves the fact partials
        1:1 — no estimate is ever re-merged, the join only filters
        whole groups and attaches functionally-dependent dim
        attributes — so approx_percentile/approx_count_distinct serve
        under ``rewrite=approx`` exactly like the single-table tier.
        Any grouping that would merge partials stays refused at every
        opt-in level."""
        from ensembl_lakehouse_spark import snapshots as _SN
        from ensembl_lakehouse_spark.plans import rewrite as _RW
        from ensembl_lakehouse_spark.plans.sql_rewrite import (
            semantic_gate_join,
        )

        for t in [intent.table] + [j.dim for j in intent.joins]:
            if t not in self._snapshot_tables:
                return None, {
                    "eligible": False,
                    "reason": f"snap_{t} is not a registered snapshot "
                    "table",
                }
        fact_dir = self._snapshot_tables[intent.table]
        fact_pin = _read_pin(fact_dir, pins.get(intent.table))
        dims = []
        try:
            fact_schema = _SN.read_snapshot(
                self.spark, fact_dir, version=fact_pin
            ).schema
            dim_schemas = []
            dim_uniques = []
            for j in intent.joins:
                ddir = self._snapshot_tables[j.dim]
                dpin = _read_pin(ddir, pins.get(j.dim))
                dim_schemas.append(
                    _SN.read_snapshot(
                        self.spark, ddir, version=dpin
                    ).schema
                )
                dim_uniques.append(_proven_unique(ddir, dpin))
                dims.append(
                    {
                        "dim_dir": ddir,
                        "fk": j.fk,
                        "pk": j.pk,
                        "group_by": list(j.group_by),
                        "filters": j.filters or None,
                        "range_filters": j.range_filters or None,
                        "version": dpin,
                        "fk_side": j.fk_side,
                    }
                )
        except (FileNotFoundError, ValueError, KeyError) as exc:
            return None, {
                "eligible": False,
                "reason": f"table unreadable at its pin: {exc}",
            }
        non_null = _proven_non_null(fact_dir, fact_pin)
        gate = semantic_gate_join(
            intent, fact_schema, dim_schemas, non_null, dim_uniques,
            allow_estimates,
        )
        if gate is not None:
            return None, {"eligible": False, "reason": gate}
        try:
            df, why = _RW.answer_join_aggregate(
                self.spark,
                self._rollups,
                fact_dir,
                dims,
                list(intent.group_by),
                intent.aggs,
                freshness=freshness,
                fact_filters=intent.filters or None,
                fact_range_filters=intent.range_filters or None,
                fact_version=fact_pin,
                min_source_version=_proof_floor(non_null, intent.aggs),
            )
        except Exception as exc:  # analysis-time oddity → verbatim run
            return None, {
                "eligible": False,
                "reason": f"rewrite planning failed: {exc}",
            }
        audit = {
            "eligible": True,
            "answered_by": (
                why["rollup"] if why["used"] == "rollup" else why["used"]
            ),
            "source_version": why["source_version"],
            "rollup_version": why.get("rollup_version"),
            "join": why.get("join"),
            "skipped": why["skipped"],
        }
        if df is None:
            # fact side would answer from base: the verbatim
            # statement IS that plan
            return None, audit
        return self._finish_sql_rewrite(df, intent), audit

    def explain_sql(
        self,
        sql: str,
        snap_versions: str = "",
        rewrite: str = "on",
        freshness: str = "strict",
    ) -> dict:
        """EXPLAIN for the raw-SQL surface: the formatted physical
        plan plus its structural summary (plans.explain.summarize:
        shuffle / broadcast / scan counts, join strategies,
        PushedFilters, ReadSchema) — the plan-discipline story, served
        over the wire. Validation is identical to submit_sql (read-only
        parse-root gate, snap_versions pins), but nothing executes:
        the plan shown is the pre-execution one (with AQE, the
        runtime may still re-plan exchanges at execution).

        When the MV rewrite answers the statement (see submit_sql),
        the plan shown is the REWRITTEN one — what would actually
        execute — and ``rewrite`` in the payload records the decision
        either way, so a user can see from the wire why their
        aggregate did (or did not) hit a rollup."""
        from ensembl_lakehouse_spark.plans.explain import explain_payload

        if rewrite not in ("on", "approx", "off"):
            raise QueryValidationError("rewrite must be on|approx|off")
        if freshness not in ("strict", "stale_ok"):
            raise QueryValidationError("freshness must be strict|stale_ok")
        df, _ = self._validated_sql_df(sql, snap_versions)
        audit = None
        if rewrite != "off":
            pins = self._parse_snap_pins(snap_versions)
            rdf, audit = self._try_sql_rewrite(
                sql, pins, rewrite == "approx", freshness
            )
            if rdf is not None:
                df = rdf
        payload = explain_payload(df)
        payload["rewrite"] = audit
        return payload

    def explain_analytics(
        self, name: str, sf_dir: str, params: dict | None = None
    ) -> dict:
        """EXPLAIN for a named operator: the same wire shape as
        explain_sql over the operator's DataFrame plan. Builds the
        plan exactly as submit_analytics would (including per-request
        params) but never submits it."""
        import __spark_entry__ as contract

        from ensembl_lakehouse_spark.plans.explain import explain_payload

        if not name or not str(name).strip():
            raise QueryValidationError("name must be non-blank")
        qs = contract.queries()
        if name not in qs:
            raise QueryValidationError(
                f"unknown analytics query {name!r}; see /analytics for names"
            )
        try:
            resolved = resolve_params(name, params)
        except ParamError as exc:
            raise QueryValidationError(str(exc)) from exc
        df = qs[name](self.spark, sf_dir, **resolved)
        return explain_payload(df)

    def submit_sql(
        self,
        sql: str,
        snap_versions: str = "",
        rewrite: str = "on",
        freshness: str = "strict",
    ) -> dict:
        """Submit a raw read-only SQL query — the Athena
        ``StartQueryExecution`` parity surface (the reference sends
        its assembled SQL string there, app/main.py:478-485; here
        users may also write their own). The statement must parse to
        a query plan root in _SQL_QUERY_ROOTS; DDL/DML is refused at
        the parser so nothing side-effecting ever executes. Runs
        through the same cache/job/preview/export lifecycle; the
        semantic-cache key is the canonicalized statement text.

        ``snap_versions`` (``name:v,name2:v``) pins named snap_
        views at an explicit retained version for THIS request —
        ``VERSION AS OF`` through the validated params surface
        (round 7, VERDICT #5). Unpinned views keep the published
        read contract; the pin joins the view fingerprint, so a
        pinned read and the live read cache separately, and two
        requests pinning the same version share one entry (the
        44-day "old results stay addressable" contract's
        storage-layer twin).

        ``rewrite`` controls the MV-rewrite front door (r8 VERDICT
        #2): ``"on"`` (default) answers a recognized aggregate over a
        ``snap_`` view from the cheapest fresh registered rollup when
        PROVABLY exact (strict grammar + schema gate — see
        plans/sql_rewrite.py); ``"approx"`` additionally allows the
        estimate-tier ``approx_count_distinct`` rewrite (DataSketches
        HLL partials instead of the statement's native estimator —
        both within their error bounds, but not the same number);
        ``"off"`` always runs the text verbatim. The response's
        ``rewrite`` block records the decision (``answered_by`` +
        per-rollup skip reasons), so a fallback can never go silent.
        ``freshness`` is the rollup eligibility mode (strict |
        stale_ok) — it never affects a verbatim run.
        """
        if rewrite not in ("on", "approx", "off"):
            raise QueryValidationError("rewrite must be on|approx|off")
        if freshness not in ("strict", "stale_ok"):
            raise QueryValidationError("freshness must be strict|stale_ok")
        df, snap_fp = self._validated_sql_df(sql, snap_versions)
        audit = None
        rewritten = None
        if rewrite != "off":
            pins = self._parse_snap_pins(snap_versions)
            rewritten, audit = self._try_sql_rewrite(
                sql, pins, rewrite == "approx", freshness
            )
        if rewritten is not None:
            # identity of the ANSWER: source pin + rollup version +
            # answering path join the canonical text, mirroring
            # submit_table_aggregate's key discipline — a stale_ok
            # rollup answer and the live base answer must never
            # share a cache entry
            key = (
                "mvsql\x1f" + canonical_sql_text(sql)
                + f"\x1f{audit['source_version']}"
                + f"\x1f{audit['rollup_version']}"
                + f"\x1f{audit['answered_by']}\x1f{freshness}"
            )
            df = rewritten
        else:
            # quote-aware canonicalization: keywords fold, string
            # literals stay byte-exact ('EN' vs 'en' must not
            # collide). The catalog view fingerprint is part of the
            # key: identical SQL against a re-registered (advanced)
            # snapshot view must MISS, not serve the pre-advance
            # rows for 44 days.
            key = (
                "sql\x1f" + self.catalog.view_fingerprint()
                + "\x1f" + snap_fp
                + "\x1f" + canonical_sql_text(sql)
            )
        query_id = self.registry.submit(df, cache_key=key)
        resp = {
            "query_id": query_id,
            "_links": {
                "self": "/sql",
                "status": f"/query/{query_id}/status",
                "preview": f"/query/{query_id}/preview",
                "export": f"/query/{query_id}/export",
            },
        }
        if audit is not None:
            resp["rewrite"] = audit
        return resp

    def analytics_names(self) -> list[str]:
        """The operator library's query names (the /analytics listing)."""
        import __spark_entry__ as contract

        return sorted(contract.queries())

    def analytics_params(self, name: str) -> dict:
        """Discoverable parameter surface for one operator (the
        GET /analytics/{name}/params listing): each accepted
        parameter with its oracle-pinned default. Operators without
        a spec return an empty dict — they accept no parameters."""
        import __spark_entry__ as contract

        if name not in contract.queries():
            raise QueryValidationError(
                f"unknown analytics query {name!r}; see /analytics for names"
            )
        spec = PARAM_SPECS.get(name, {})
        return {
            key: {
                "default": list(ps.default)
                if isinstance(ps.default, tuple)
                else ps.default
            }
            for key, ps in spec.items()
        }

    # -- snapshot tables over HTTP (CDC) ------------------------------

    def register_snapshot_table(self, name: str, table_dir: str) -> None:
        """Expose a snapshot-versioned table (snapshots.py) under a
        service name. Registration is an OPERATOR action on the local
        engine — table paths never come from requests, so the HTTP
        surface can only reach tables deliberately published."""
        from ensembl_lakehouse_spark import snapshots as _SN

        # valid SQL identifier only: the name becomes the temp view
        # snap_<name> on every /sql submit, and Spark rejects
        # hyphenated view names (AnalysisException) — one bad
        # registration would break the whole /sql endpoint (r7 ADVICE)
        if (
            not name
            or not name.replace("_", "").isalnum()
            or name[0].isdigit()
        ):
            raise QueryValidationError(
                "table name must be a SQL identifier "
                "(letters, digits, _; not starting with a digit)"
            )
        if _SN.current_version(table_dir) is None:
            raise QueryValidationError(
                f"{table_dir} holds no committed snapshot"
            )
        self._snapshot_tables[name] = table_dir

    def _table_dir(self, name: str) -> str:
        """A registered snapshot table's directory; an unknown name is
        a validation error (400 on the wire)."""
        if name not in self._snapshot_tables:
            raise QueryValidationError(
                f"unknown table {name!r}; see /table for names"
            )
        return self._snapshot_tables[name]

    def snapshot_table_names(self) -> list[str]:
        return sorted(self._snapshot_tables)

    def table_history(self, name: str) -> list[dict]:
        """Retained versions of a registered table (the DESCRIBE
        HISTORY surface a mirror uses to pick from/to versions)."""
        from ensembl_lakehouse_spark import snapshots as _SN

        return _SN.history(self._table_dir(name))

    def table_rollups_report(self, name: str) -> list[dict]:
        """Freshness dashboard for every rollup registered against
        one table — the X13 ops surface: which materialized views
        would answer RIGHT NOW, and why the others would not. Per
        rollup: kind, keys, measured column, hierarchical parent,
        the freshness state against the same published-version pin
        /aggregate uses ("fresh" | "stale" | "ahead" | "never"),
        the rollup's own version, and its metadata rowcount (the
        cost the cheapest-rollup pick compares). Zero Spark jobs —
        pure _txns/manifest arithmetic, like /maintenance."""
        from ensembl_lakehouse_spark import snapshots as _SN
        from ensembl_lakehouse_spark.plans import rewrite as _RW

        tdir = os.path.abspath(self._table_dir(name))
        pin_v = _read_pin(tdir)
        out = []
        for spec in self._rollups.specs():
            if spec.source_dir != tdir:
                continue
            state, represents = _RW._chain_freshness(spec, pin_v)
            rollup_v = _SN.current_version(spec.rollup_dir)
            out.append(
                {
                    "rollup": spec.name,
                    "kind": spec.kind,
                    "group_cols": list(spec.group_cols),
                    "measure_col": spec.sum_col,
                    "hierarchical": spec.parent_dir is not None,
                    "freshness": state if state is not None else "fresh",
                    "pinned_source_version": pin_v,
                    # the base version a stale_ok answer from this
                    # rollup would REPRESENT — exact even when a
                    # non-root hop lags (ledger-walked); null means
                    # the derivation is unresolvable (chain-lagged
                    # pre-log state), i.e. possibly pre-proof
                    "represents_source_version": represents,
                    "rollup_version": rollup_v,
                    "rowcount": _SN.table_rowcount(
                        spec.rollup_dir, version=rollup_v
                    )
                    if rollup_v is not None
                    else None,
                }
            )
        return out

    def table_rollups_history(self, name: str) -> list[dict]:
        """Freshness HISTORY for every rollup registered against one
        table (r8 VERDICT #5): the dashboard above says what would
        answer NOW; this replays the ``_txns`` ledger to say how the
        lattice has been kept — every maintenance tick with the
        rollup version it committed, the source (or parent) version
        it applied, and the LAG at apply time measured in commits
        the feed had already accumulated (by commit wall time — a
        tick that applied v3 while the source stood at v5 ran two
        commits behind). A lattice whose lag grows is a scheduler
        falling behind its feed; the per-tick record is what an SLO
        burns down against.

        A direct rollup's stamps apply SOURCE versions; a
        hierarchical child's apply PARENT-rollup versions — the
        record says which feed it measured against. Zero Spark jobs:
        pure _txns/manifest arithmetic."""
        from ensembl_lakehouse_spark import ivm as _IVM
        from ensembl_lakehouse_spark import snapshots as _SN

        tdir = os.path.abspath(self._table_dir(name))
        out = []
        for spec in self._rollups.specs():
            if spec.source_dir != tdir:
                continue
            feed_dir = spec.parent_dir or tdir
            feed_hist = _SN.history(feed_dir)
            ticks = []
            for rec in _SN.history(spec.rollup_dir):
                applied = _IVM._stamp_version(rec["op"])
                if applied is None:
                    continue
                # the feed's newest commit that existed when this
                # tick landed (commit wall clock — both ledgers
                # stamp it)
                feed_latest = None
                for f in feed_hist:
                    if f["committed_at"] <= rec["committed_at"]:
                        feed_latest = f["version"]
                ticks.append(
                    {
                        "rollup_version": rec["version"],
                        "applied_feed_version": applied,
                        "committed_at": rec["committed_at"],
                        "feed_version_at_apply": feed_latest,
                        "lag_commits": (
                            sum(
                                1
                                for f in feed_hist
                                if f["committed_at"] <= rec["committed_at"]
                                and f["version"] > applied
                            )
                        ),
                    }
                )
            out.append(
                {
                    "rollup": spec.name,
                    "kind": spec.kind,
                    "feed": "parent" if spec.parent_dir else "source",
                    "n_ticks": len(ticks),
                    "ticks": ticks,
                    "last_applied": (
                        _IVM._applied_versions(spec.rollup_dir) or [None]
                    )[-1],
                }
            )
        return out

    def table_tags(self, name: str) -> dict[str, int]:
        """Tag listing for a registered table (tag -> version)."""
        from ensembl_lakehouse_spark import snapshots as _SN

        return _SN.list_tags(self._table_dir(name))

    def table_summary(self, name: str) -> dict:
        """One-stop table metadata: current/published versions, tags,
        constraints — what a consumer checks before reading."""
        from ensembl_lakehouse_spark import snapshots as _SN

        d = self._table_dir(name)
        return {
            "name": name,
            "current_version": _SN.current_version(d),
            "published_version": _SN.published_version(d),
            "tags": _SN.list_tags(d),
            "constraints": _SN.list_constraints(d),
        }

    def table_retention_report(
        self, name: str, keep_versions: int = 2
    ) -> dict:
        """Vacuum DRY-RUN for a registered table (the erasure-SLA
        sizing surface): versions/dirs/bytes a retention pass at
        ``keep_versions`` would drop. Read-only."""
        from ensembl_lakehouse_spark import snapshots as _SN

        d = self._table_dir(name)
        if not isinstance(keep_versions, int) or keep_versions < 1:
            raise QueryValidationError("keep_versions must be >= 1")
        return _SN.vacuum_plan(d, keep_versions)

    def table_maintenance_report(
        self,
        name: str,
        target_bytes: int = 128 * 1024 * 1024,
        keep_versions: int = 2,
    ) -> dict:
        """The ops dashboard for one registered table in one call:
        small-file compaction dry-run (``compaction_plan``), vacuum
        dry-run (composed from ``table_retention_report`` so the two
        endpoints cannot drift), the metadata rowcount, and the
        version pointers — everything a maintenance daemon polls to
        decide whether to OPTIMIZE or VACUUM, with zero Spark jobs
        (pure manifest + stat arithmetic). The actual compact/vacuum
        verbs stay operator-side like registration.

        This is an OPERATOR surface over the CURRENT physical state
        — like ``/table/{name}/changes`` and unlike the consumer
        read paths (snap_ views, /aggregate), it intentionally
        reports staged/unpublished versions, because maintenance
        acts on physical files regardless of the publish pointer
        (rowcount here is current-version too, by the same
        contract — consumers read counts through /aggregate, which
        pins published)."""
        from ensembl_lakehouse_spark import snapshots as _SN

        if not isinstance(target_bytes, int) or target_bytes < 1:
            raise QueryValidationError("target_bytes must be >= 1")
        # unknown-table + keep_versions validation live in the
        # composed retention report — one checked path, no drift
        vacuum = self.table_retention_report(name, keep_versions)
        d = self._snapshot_tables[name]
        return {
            "name": name,
            "current_version": _SN.current_version(d),
            "published_version": _SN.published_version(d),
            "rowcount": _SN.table_rowcount(d),
            "compaction": _SN.compaction_plan(d, target_bytes),
            "vacuum": vacuum,
            # op-stamp log growth + what a loss-free compact_txns
            # would shrink it to (r8: the _txns metadata-scaling
            # story, surfaced where the daemon already polls)
            "txns": _SN.compact_txns_plan(d),
        }

    def submit_table_changes(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        key: str | None = None,
    ) -> dict:
        """Submit a CDC read (snapshots.snapshot_diff) through the
        standard async lifecycle: status, preview, export, presigned
        download — the ``table_changes`` endpoint a downstream mirror
        polls. ``key`` switches to the key-level MERGE-feed shape
        (comma-separated for composite keys).

        ``to_version`` is resolved to the CURRENT version at submit
        time and pinned into the cache key, so a poll after new
        commits gets a fresh diff while a repeat of the same
        (from, to, key) triple returns the cached query id — diffs of
        immutable snapshots are themselves immutable.
        """
        from ensembl_lakehouse_spark import snapshots as _SN

        table_dir = self._table_dir(name)
        retained = {h["version"] for h in _SN.history(table_dir)}
        if to_version is None:
            to_version = _SN.current_version(table_dir)
        for label, v in (("from_version", from_version), ("to_version", to_version)):
            if not isinstance(v, int) or v not in retained:
                raise QueryValidationError(
                    f"{label} {v!r} is not a retained version; "
                    f"see /table/{name}/history"
                )
        keys = [k.strip() for k in key.split(",") if k.strip()] if key else None
        if key is not None and not keys:
            raise QueryValidationError("key must name at least one column")
        # the registered DIRECTORY is part of the key: a re-register
        # of the same name onto a different table must never serve
        # the old table's cached diffs
        cache_probe = (
            f"cdc\x1f{os.path.abspath(table_dir)}\x1f{name}\x1f"
            f"{from_version}\x1f{to_version}\x1f"
            + (",".join(keys) if keys else "")
        )
        query_id = self.registry.cached_query_id(cache_probe)
        if query_id is None:
            try:
                df = _SN.snapshot_diff(
                    self.spark,
                    table_dir,
                    from_version,
                    to_version,
                    key=keys,
                )
            except Exception as exc:  # unknown key column etc.
                raise QueryValidationError(
                    f"snapshot_diff failed: {exc}"
                ) from exc
            if keys:
                # wire shape: the MERGE-feed row travels as JSON —
                # the result store is CSV (Athena parity) and the
                # preview stringifies scalars, neither holds a struct
                from pyspark.sql import functions as _F

                df = df.withColumn("_row", _F.to_json("_row"))
            query_id = self.registry.submit(df, cache_key=cache_probe)
        return {
            "query_id": query_id,
            "from_version": from_version,
            "to_version": to_version,
            "_links": {
                "self": f"/table/{name}/changes",
                "status": f"/query/{query_id}/status",
                "preview": f"/query/{query_id}/preview",
                "export": f"/query/{query_id}/export",
            },
        }

    def _refresh_snapshot_views(self, pins: dict[str, int] | None = None) -> str:
        """Expose every registered snapshot table to raw SQL as the
        temp view ``snap_<name>``, pinned at its PUBLISHED version
        when a publish pointer exists (the write-audit-publish read
        contract — staged versions stay invisible to SQL consumers)
        and at the current version otherwise; a ``pins`` entry
        overrides either with an explicit retained version (the
        /sql time-travel parameter). Re-resolved per /sql submit, so
        the view can never serve a stale file list; the returned
        ``name@version`` fingerprint joins the cache key, so
        identical SQL before/after a publish (or with a different
        pin) MISSES instead of serving the wrong rows for 44 days.
        O(registered tables) manifest reads — driver metadata, no
        data touched."""
        from ensembl_lakehouse_spark import snapshots as _SN

        parts = []
        for name, tdir in sorted(self._snapshot_tables.items()):
            pinned = bool(pins and name in pins)
            published = _SN.published_version(tdir)
            if pinned:
                v = pins[name]
                # A publish pointer is a read fence, not a default:
                # pinning PAST it would leak staged (written, not yet
                # audited/published) rows through /sql — the same
                # contract /aggregate enforces on its version pin
                # (r7 ADVICE, medium). Historical pins ≤ published
                # stay fine; tables with no pointer are unfenced.
                if published is not None and v > published:
                    raise QueryValidationError(
                        f"snap_versions: {name} v{v} is beyond the "
                        f"published version {published} — staged "
                        "versions are not readable through /sql"
                    )
            else:
                v = published
                if v is None:
                    v = _SN.current_version(tdir)
            # ValueError covers the empty-file-list manifest (a
            # readable version with nothing to plan). A broken
            # UNPINNED registration must not fail statements that
            # never reference it: drop the view so only queries that
            # bind snap_{name} fail (at analysis), and fingerprint
            # the broken state so cached results can't straddle a
            # break/repair transition (r7 ADVICE, low).
            try:
                _SN.read_snapshot(
                    self.spark, tdir, version=v
                ).createOrReplaceTempView(f"snap_{name}")
            except (FileNotFoundError, ValueError, KeyError) as exc:
                if pinned:
                    raise QueryValidationError(
                        f"snap_versions: {name} has no readable version "
                        f"{v} ({exc})"
                    ) from exc
                try:
                    self.spark.catalog.dropTempView(f"snap_{name}")
                except Exception:
                    pass
                parts.append(f"{name}@unreadable")
                continue
            parts.append(f"{name}@{v}")
        return ";".join(parts)

    def register_rollup(
        self,
        table_name: str,
        rollup_name: str,
        rollup_dir: str,
        group_cols: list[str],
        sum_col: str,
        parent_dir: str | None = None,
        kind: str = "sum",
        group_exprs: dict[str, str] | None = None,
    ) -> None:
        """Register a maintained rollup (ivm.maintain_rollup output)
        as a materialized view over a REGISTERED snapshot table, so
        /table/{name}/aggregate can rewrite matching aggregates to
        it (plans/rewrite.py). ``parent_dir`` marks a hierarchical
        child (ivm.maintain_rollup_from_rollup) whose freshness
        composes through that parent rollup. ``kind`` "minmax"/"hll"
        marks an ivm.maintain_aux_rollup view (MIN/MAX or approx
        COUNT(DISTINCT) answering; sum_col names the measured
        column). ``group_exprs`` marks TIME-BUCKET group columns
        (ivm.maintain_rollup ``key_exprs``) — the /sql rewrite then
        serves ``GROUP BY date_trunc('day', ts)``-style statements
        from this view. Operator-side only, like table
        registration."""
        self._rollups.register(
            rollup_name,
            rollup_dir,
            self._table_dir(table_name),
            group_cols,
            sum_col,
            parent_dir=parent_dir,
            kind=kind,
            group_exprs=group_exprs,
        )

    def table_aggregate_params(self, name: str) -> dict:
        """The structured-aggregate grammar, discoverable over the
        wire (GET /table/{name}/aggregate/params — r9 VERDICT #6
        asked for the filter grammar to be served at
        /analytics/{name}/params parity): every accepted parameter
        with its value grammar, including the range-typing rule the
        400 on ambiguous ``lo..hi`` input points at."""
        self._table_dir(name)
        return {
            "group_by": "comma list of table columns",
            "aggs": (
                "comma list of out=count | out=count:col (col must "
                "carry a write-enforced NOT-NULL CHECK constraint) | "
                "out=sum:col | out=avg:col | out=min:col | out=max:col "
                "| out=approx_distinct:col | "
                "out=approx_percentile:col:q (q in (0,1); DDSketch "
                "estimate, <=0.99% relative error)"
            ),
            "filter": (
                "comma list of col:v1|v2 (IN), col:lo..hi (inclusive "
                "BETWEEN — parsed ONLY for numeric/date/timestamp "
                "columns; on any other type the form is ambiguous "
                "with a literal containing '..' and is refused), "
                "col:between:lo:hi (explicit BETWEEN, any orderable "
                "type), or col:eq:value (verbatim equality — the "
                "escape hatch for literals containing '..' or '|'; "
                "repeat for IN). One form per column."
            ),
            "having": (
                "comma list of out:op:value with op in "
                "eq/ne/lt/le/gt/ge, out a SELECTED aggs alias, "
                "exact-tier measures only"
            ),
            "freshness": "strict (default) | stale_ok",
        }

    def submit_table_aggregate(
        self,
        name: str,
        group_by: str,
        aggs: str,
        freshness: str = "strict",
        filter: str = "",
        having: str = "",
    ) -> dict:
        """Aggregate a registered snapshot table through the
        MV-rewrite planner: answered from the cheapest fresh rollup
        that can serve it exactly, else from the base table — the
        response says which (``answered_by``), making the rewrite
        auditable at the API. ``aggs`` is a comma list of
        ``out=count`` / ``out=sum:col`` / ``out=avg:col``;
        ``filter`` is ``col:v1|v2,col2:v3`` meaning
        ``WHERE col IN (v1, v2) AND col2 = v3`` — the reference's
        mandatory equality-filter shape (app/main.py:479), rewritten
        to a rollup whenever every filter column is a rollup group
        key. A positional value containing ``..`` parses as a
        BETWEEN range (``col:lo..hi``) ONLY on numeric/date/
        timestamp columns — on any other type the spelling is
        ambiguous with a literal containing dots and is refused
        (r9 VERDICT #6); ``col:between:lo:hi`` is the explicit range
        form for any orderable type, and an equality literal that
        itself contains ``..`` or ``|`` uses ``col:eq:value``
        (r8 ADVICE). The grammar is served at
        GET /table/{name}/aggregate/params.

        ``having`` filters the AGGREGATED rows (r9: parity with the
        /sql HAVING tier): a comma list of ``out:op:value`` terms
        with op in eq/ne/lt/le/gt/ge, each referencing a SELECTED
        output alias — the structured surface has explicit aliases,
        so unlike /sql no hidden measures are needed (add the
        measure to ``aggs``). Exact-tier only: filtering on an
        approx_distinct output is refused — the estimator's value
        decides WHICH rows return, so swapping estimators between
        the rollup and base paths could change the row set.

        ``out=count:col`` (COUNT of non-NULLs) is accepted ONLY for
        a column proven NOT NULL by a write-enforced CHECK
        constraint the pinned version postdates — the same proof the
        /sql tier uses; without it even the BASE path would be wrong
        (the rollup algebra counts rows), so the request is refused
        with the constraint hint rather than served loosely.

        Reads pin the PUBLISHED version when a publish pointer
        exists (falling back to current) — the same
        write-audit-publish contract as the snap_ SQL views, so
        staged un-audited rows never leak through this surface
        either (r7 ADVICE).

        Results are cached keyed on (table dir, pinned version,
        request shape incl. filter, answering path): a strict re-ask
        after a publish recomputes; re-asking an unchanged table
        hits.
        """
        from ensembl_lakehouse_spark import snapshots as _SN
        from ensembl_lakehouse_spark.plans import rewrite as _RW

        table_dir = self._table_dir(name)
        group_cols = [g.strip() for g in group_by.split(",") if g.strip()]
        agg_spec: dict[str, tuple[str, str]] = {}
        for item in aggs.split(","):
            item = item.strip()
            if not item:
                continue
            if "=" not in item:
                raise QueryValidationError(
                    f"bad aggs item {item!r}: want out=count|out=sum:col|out=avg:col"
                )
            out, fn_col = (s.strip() for s in item.split("=", 1))
            # output aliases must be plain identifiers: a dotted or
            # quoted alias would misresolve in downstream F.col()
            # references (the having filter) as struct-field access
            # and surface as a 500 instead of a 400 (r9 second
            # review)
            import re as _re2

            if not _re2.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", out):
                raise QueryValidationError(
                    f"bad aggs alias {out!r}: want a plain identifier "
                    "(letters, digits, underscores)"
                )
            if out.startswith("__"):
                # the rewrite's internal columns live under the __
                # prefix (partials, sketch states) — a user alias
                # there could collide and surface as an ambiguous
                # AnalysisException 500 (r10 second review)
                raise QueryValidationError(
                    f"bad aggs alias {out!r}: the __ prefix is "
                    "reserved for the rewrite's internal columns"
                )
            fn, _, col = fn_col.partition(":")
            fn = fn.strip().lower()
            if fn == "count":
                # out=count counts rows; out=count:col counts
                # non-NULLs and is gated below on the NOT-NULL proof
                agg_spec[out] = ("count", col.strip())
            elif fn in ("sum", "avg", "min", "max") and col.strip():
                agg_spec[out] = (fn, col.strip())
            elif (
                fn in ("approx_distinct", "approx_count_distinct")
                and col.strip()
            ):
                agg_spec[out] = ("approx_count_distinct", col.strip())
            elif fn == "approx_percentile" and col.strip():
                # out=approx_percentile:col:q — explicitly approximate
                # (DDSketch, γ=1.02, ≤0.99 % relative error vs the
                # order statistic at rank ceil(q·N)); the quantile
                # rides in the fn spelling (the plan vocabulary is
                # (fn, col) pairs everywhere)
                c, _, qtxt = col.strip().partition(":")
                try:
                    qv = float(qtxt)
                except ValueError:
                    qv = -1.0
                if not c or not (0.0 < qv < 1.0):
                    raise QueryValidationError(
                        f"bad aggs item {item!r}: want "
                        "out=approx_percentile:col:q with q in (0, 1)"
                    )
                agg_spec[out] = (f"approx_percentile@{qv!r}", c)
            else:
                raise QueryValidationError(
                    f"bad aggs item {item!r}: want out=count|out=sum:col|"
                    "out=avg:col|out=min:col|out=max:col|"
                    "out=approx_distinct:col|out=approx_percentile:col:q"
                )
        if not agg_spec:
            raise QueryValidationError("aggs must name at least one measure")
        if freshness not in ("strict", "stale_ok"):
            raise QueryValidationError("freshness must be strict|stale_ok")
        filters: dict[str, list[str]] = {}
        range_filters: dict[str, tuple[str, str]] = {}
        eq_cols: set[str] = set()
        explicit_ranges: set[str] = set()
        positional_cols: set[str] = set()
        for item in (filter or "").split(","):
            item = item.strip()
            if not item:
                continue
            if ":" not in item:
                raise QueryValidationError(
                    f"bad filter item {item!r}: want col:v1|v2, col:lo..hi "
                    "or col:eq:value"
                )
            col, _, vals = item.partition(":")
            col = col.strip()
            # explicit verbatim equality (r8 ADVICE): a literal whose
            # value legitimately contains '..' or '|' cannot be
            # expressed through the positional grammar — 'col:eq:'
            # takes the remainder as ONE equality value, unparsed.
            # Repeated eq: items on one column union (IN); MIXING
            # forms on one column is refused — append-vs-overwrite
            # would silently drop a predicate depending on item
            # order (r9 code review).
            if vals.startswith("eq:"):
                if not col or not vals[3:]:
                    raise QueryValidationError(
                        f"bad filter item {item!r}: col:eq:value needs a "
                        "non-empty value"
                    )
                if col in positional_cols or col in range_filters:
                    raise QueryValidationError(
                        f"filter mixes forms for column {col!r}: use "
                        "either positional (col:v1|v2 / col:lo..hi) or "
                        "col:eq:, not both"
                    )
                filters.setdefault(col, []).append(vals[3:])
                eq_cols.add(col)
                continue
            # explicit BETWEEN (r10): the user SAYS it is a range, so
            # it is valid on any orderable type — the escape hatch the
            # bare lo..hi form's numeric-only rule points non-numeric
            # columns at (a string range like grp:between:g0:g1 has no
            # literal-vs-range ambiguity to guard)
            if vals.startswith("between:"):
                rest = vals[len("between:"):]
                if rest.count(":") != 1:
                    # a bound containing ':' (times, timestamps)
                    # cannot be split positionally — partitioning at
                    # the FIRST colon would silently mis-split into
                    # wrong bounds (r10 second review); fail loudly
                    # toward the SQL surface instead of guessing
                    raise QueryValidationError(
                        f"bad filter item {item!r}: col:between:lo:hi "
                        "needs exactly one ':' between the bounds — "
                        "colon-bearing bounds (timestamps) cannot be "
                        "expressed positionally; use /sql for those"
                    )
                lo, _, hi = rest.partition(":")
                if not col or not lo or not hi:
                    raise QueryValidationError(
                        f"bad filter item {item!r}: want "
                        "col:between:lo:hi"
                    )
                if col in eq_cols or col in filters or col in range_filters:
                    raise QueryValidationError(
                        f"filter names column {col!r} twice — one "
                        "positional item per column (use | for IN), or "
                        "repeated col:eq:"
                    )
                range_filters[col] = (lo, hi)
                explicit_ranges.add(col)
                continue
            if col in eq_cols or col in filters or col in range_filters:
                raise QueryValidationError(
                    f"filter names column {col!r} twice — one positional "
                    "item per column (use | for IN), or repeated col:eq:"
                )
            if ".." in vals:
                lo, _, hi = vals.partition("..")
                lo, hi = lo.strip(), hi.strip()
                if not col or not lo or not hi or "|" in vals:
                    raise QueryValidationError(
                        f"bad filter item {item!r}: want col:lo..hi "
                        "(inclusive BETWEEN; no | inside a range). For "
                        "an EQUALITY value that contains '..', use "
                        "col:eq:value"
                    )
                range_filters[col] = (lo, hi)
                positional_cols.add(col)
                continue
            vlist = [v for v in (s.strip() for s in vals.split("|")) if v]
            if not col or not vlist:
                raise QueryValidationError(
                    f"bad filter item {item!r}: want col:v1|v2 or col:lo..hi"
                )
            filters[col] = vlist
            positional_cols.add(col)
        # having grammar: out:op:value — SELECTED aliases only,
        # exact-tier only (see docstring)
        _HAVING_OPS = {
            "eq": "=", "ne": "<>", "lt": "<",
            "le": "<=", "gt": ">", "ge": ">=",
        }
        having_terms: list[tuple[str, str, object]] = []
        for item in (having or "").split(","):
            item = item.strip()
            if not item:
                continue
            bits = item.split(":", 2)
            if len(bits) != 3 or not all(b.strip() for b in bits):
                raise QueryValidationError(
                    f"bad having item {item!r}: want out:op:value with "
                    "op in eq/ne/lt/le/gt/ge"
                )
            out, op, val = (b.strip() for b in bits)
            if out not in agg_spec:
                raise QueryValidationError(
                    f"having references {out!r}, which is not an aggs "
                    "output alias"
                )
            if agg_spec[out][0].split("@", 1)[0] in (
                "approx_count_distinct",
                "approx_percentile",
            ):
                raise QueryValidationError(
                    f"having on {out!r} filters an estimate-tier "
                    "measure — the estimator's value decides which "
                    "rows return, never filterable"
                )
            if op not in _HAVING_OPS:
                raise QueryValidationError(
                    f"bad having op {op!r}: want eq/ne/lt/le/gt/ge"
                )
            try:
                lit: object = int(val)
            except ValueError:
                try:
                    lit = float(val)
                except ValueError:
                    lit = val
            having_terms.append((out, _HAVING_OPS[op], lit))
        pin_v = _read_pin(table_dir)
        # the bare lo..hi form is positional, so on a STRING column it
        # is ambiguous — 'period:2024..2025' could be a BETWEEN or one
        # literal that contains dots. Range-parse only range-TYPED
        # columns (numeric/date/timestamp, where a literal cannot
        # contain '..'); anything else fails loudly toward the
        # explicit forms instead of silently guessing (r9 VERDICT #6).
        if set(range_filters) - explicit_ranges:
            _RANGEABLE = (
                "tinyint", "smallint", "int", "bigint", "float",
                "double", "date", "timestamp", "timestamp_ntz",
            )
            try:
                fields = {
                    f.name.lower(): f.dataType.simpleString()
                    for f in _SN.read_snapshot(
                        self.spark, table_dir, version=pin_v
                    ).schema.fields
                }
            except (FileNotFoundError, ValueError, KeyError):
                fields = {}
            for col in set(range_filters) - explicit_ranges:
                t = fields.get(col.lower())
                if t is not None and not (
                    t in _RANGEABLE or t.startswith("decimal")
                ):
                    raise QueryValidationError(
                        f"filter {col}:lo..hi is ambiguous on a {t} "
                        "column (the literal itself could contain "
                        "'..') — use col:eq:value for an equality "
                        "literal; BETWEEN ranges are only parsed for "
                        "numeric/date/timestamp columns"
                    )
        # COUNT(col) == row count ONLY under the NOT-NULL proof; the
        # rollup algebra AND the base tier both count rows, so an
        # unproven column is refused, not served loosely. Lowercased
        # like the proof map — Spark resolves case-insensitively and
        # the /sql lexer lowercases, so /aggregate must too (r9
        # second review)
        non_null = _proven_non_null(table_dir, pin_v)
        count_cols = {
            c.lower() for fn, c in agg_spec.values() if fn == "count" and c
        }
        if count_cols:
            unproven = sorted(count_cols - set(non_null))
            if unproven:
                raise QueryValidationError(
                    f"count over nullable column(s) {unproven}: counts "
                    "of non-NULLs need a write-enforced 'col IS NOT "
                    "NULL' CHECK constraint the pinned version "
                    f"postdates (see /table/{name}/constraints)"
                )
        try:
            df, why = _RW.answer_aggregate(
                self.spark, self._rollups, table_dir, group_cols, agg_spec,
                freshness=freshness,
                filters=filters or None,
                range_filters=range_filters or None,
                version=pin_v,
                # only COUNT(col) is proof-dependent on this surface
                # (SUM/AVG here are the rollup algebra's own NULL→0
                # contract, not an SQL-equivalence claim)
                min_source_version=_proof_floor(
                    non_null,
                    {
                        k: v
                        for k, v in agg_spec.items()
                        if v[0] == "count" and v[1]
                    },
                ),
            )
        except Exception as exc:  # unknown column etc. — analysis-time
            raise QueryValidationError(f"aggregate failed: {exc}") from exc
        df = _apply_having(df, having_terms)
        # "metadata" (manifest rowcounts), a rollup's name, or "base"
        answered_by = (
            why["rollup"] if why["used"] == "rollup" else why["used"]
        )
        # identity of the ANSWER, not the request: the source version
        # is the one answer_aggregate pinned (resolved before the
        # freshness decision — no TOCTOU with a racing commit), and a
        # rollup-served answer additionally keys on the rollup's own
        # version, because under stale_ok the rollup's content can
        # move (maintenance) while the source version stands still
        cache_probe = (
            f"mvagg\x1f{os.path.abspath(table_dir)}\x1f{name}\x1f"
            f"{why['source_version']}\x1f"
            f"{why.get('rollup_version')}\x1f"
            f"{','.join(group_cols)}\x1f"
            f"{sorted(agg_spec.items())!r}\x1f"
            f"{sorted(filters.items())!r}\x1f"
            f"{sorted(range_filters.items())!r}\x1f"
            f"{sorted(map(repr, having_terms))!r}\x1f"
            f"{freshness}\x1f{answered_by}"
        )
        query_id = self.registry.cached_query_id(cache_probe)
        if query_id is None:
            query_id = self.registry.submit(df, cache_key=cache_probe)
        return {
            "query_id": query_id,
            "answered_by": answered_by,
            "skipped": why["skipped"],
            "_links": {
                "self": f"/table/{name}/aggregate",
                "status": f"/query/{query_id}/status",
                "preview": f"/query/{query_id}/preview",
                "export": f"/query/{query_id}/export",
            },
        }

    def query_status(self, query_id: str) -> dict:
        """Status + (on success) the result path AND a presigned URL
        — the reference mints a 3600 s S3 presigned URL here
        (app/main.py:272); ours is the HMAC-signed local equivalent
        (service/urls.py)."""
        out = self.registry.status(query_id)
        if "result" in out:
            out["result_url"] = self.signer.sign(out["result"])
        return out

    def query_preview(self, query_id: str, max_results: int = 26) -> dict:
        handle = self.registry.get(query_id)
        if handle.df is None or handle.state != SUCCEEDED:
            return {"status": handle.state}
        return _preview(handle.df, max_results)

    def export(self, query_id: str, file_format: str) -> dict:
        handle = self.registry.get(query_id)
        out = self.exports.request_export(query_id, handle.df, file_format, handle.state)
        if out.get("status") == "DONE" and "result" in out:
            out["result_url"] = self.signer.sign(out["result"])
        return out

    # -- lifecycle ----------------------------------------------------

    def close(self) -> None:
        self.registry.shutdown()
