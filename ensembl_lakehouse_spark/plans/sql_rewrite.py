"""Recognize rewrite-eligible aggregate SQL over ``snap_`` views —
the /sql front door for the MV rewrite (plans/rewrite.py).

The reference's ONLY query language is SQL text (its API assembles a
SELECT and ships it to Athena, app/main.py:478-485); this engine's
rollup rewrite previously answered only the structured /aggregate
endpoint, so the same aggregate submitted as SQL always paid the
base scan. This module closes that gap: a strict tokenizer +
recursive-descent parser recognizes the exact statement family the
rollup algebra can serve —

    SELECT <group cols + aliased aggregates>
    FROM snap_<table> [alias]
    [INNER JOIN snap_<dim> [alias] ON fact.fk = dim.pk]...   (star)
    [WHERE <AND of col = lit | col IN (lits) | col BETWEEN lo AND hi>]
    [GROUP BY <cols>]
    [HAVING <AND of (agg-alias | agg-call) {= < > <= >= <>} lit>]
    [ORDER BY <output cols [ASC|DESC]>]
    [LIMIT n]

— and extracts it as an ``AggregateIntent``. A single-table
statement is the star with zero spokes: one parser, one semantic
gate and one engine branch serve both, and only the final answer
step differs (``plans.rewrite.answer_aggregate``, or
``answer_join_aggregate`` when spokes are present — r9 VERDICT #2,
generalized to multi-dim in r10). With any join every column
reference must be alias-qualified, and every join word other than
INNER is reserved so e.g. LEFT JOIN can never half-parse as
servable. EVERYTHING else
returns None and the statement executes verbatim; a false negative
costs a base scan, a false positive would serve a wrong answer, so
the grammar is strict by construction: any unexpected token,
expression, DISTINCT, non-inner join, subquery, comment, or escape
sequence makes the statement ineligible.

HAVING is inside the grammar (round 9): each term compares ONE
derivable aggregate — a selected alias or a direct call, which gets
a hidden ``__having_N`` measure dropped before output — against a
literal. The filter runs on values the rollup reproduces exactly, so
the surviving row SET is identical by construction; estimate-tier
measures are NEVER filterable (``semantic_gate`` refuses even under
``rewrite=approx`` — a filter on an estimator value changes WHICH
rows return, not just a displayed number). HAVING on a bare group
column stays ineligible: it is WHERE semantics in disguise, and the
strict grammar keeps the two filter vocabularies separate.

Exactness gating happens in TWO layers. This parser only proves the
statement's *shape*; the engine then proves the *semantics* match the
rollup algebra against each side's schema (``semantic_gate``, which
adds the per-spoke UNIQUE-key and join-type proofs for a star):

- COUNT(*) / COUNT(1): always exact (rollup n_rows counts rows).
- COUNT(col): counts non-NULLs, which equals the row count exactly
  when the column is proven non-NULL at the pinned version — the
  same write-enforced CHECK-constraint proof SUM/AVG use. Unproven
  columns fall back with the constraint hint.
- MIN/MAX(col): exact for any column type (both paths ignore NULLs
  and re-aggregate min-of-mins over subset groupings).
- SUM/AVG(col): exact ONLY when the column is integral AND proven
  non-NULL at the pinned version (a write-enforced ``col IS NOT
  NULL`` CHECK constraint the pin postdates — parquet reads force
  nullable=true, so schema nullability proves nothing). The rollup
  accumulates per-row BIGINT casts with NULL→0 coalescing and
  divides by n_rows (row count); SQL SUM returns NULL for an
  all-NULL group and AVG divides by the non-NULL count, so a
  nullable column could diverge — the gate falls back instead of
  guessing.
- approx_count_distinct(col): estimate tier — Spark's native
  function is HyperLogLog++ while the rollup stores DataSketches HLL
  partials, two different estimators whose answers legitimately
  differ within their error bounds. Rewriting changes the estimate,
  so it requires the caller's explicit ``rewrite=approx`` opt-in.
- hll_sketch_estimate(hll_sketch_agg(col)): the DataSketches
  spelling — the same sketch family the rollup maintains. Still
  estimate tier (``rewrite=approx``): DataSketches unions estimate
  via the composite estimator while a directly-built sketch uses the
  HIP accumulator, so past exact/coupon mode the union-of-partials
  answer can differ from the single-pass answer (r8 ADVICE; pinned
  by test_hll_union_vs_single_pass_drift).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

__all__ = [
    "AggregateIntent",
    "JoinClause",
    "parse_aggregate_sql",
    "semantic_gate",
]

#: measures servable without changing the statement's answer
EXACT_FNS = frozenset({"count", "sum", "avg", "min", "max"})
#: measures whose rewrite swaps the estimator (opt-in only)
ESTIMATE_FNS = frozenset({"approx_count_distinct", "approx_percentile"})

_AGG_FNS = frozenset(
    {"count", "sum", "avg", "min", "max", "approx_count_distinct",
     "hll_sketch_estimate", "approx_percentile"}
)

#: words that may never be treated as an identifier — seeing one
#: anywhere an identifier is expected aborts recognition, so e.g.
#: ``SELECT DISTINCT x`` or a HAVING clause can't half-parse
_RESERVED = frozenset(
    {"select", "from", "where", "group", "order", "by", "limit",
     "and", "or", "not", "in", "between", "as", "asc", "desc",
     "distinct", "having", "join", "on", "union", "except",
     "intersect", "case", "when", "then", "else", "end", "null",
     "true", "false", "nulls", "first", "last", "all", "cast",
     "over", "partition",
     # join words beyond the one servable INNER equi-join: reserving
     # them makes `LEFT JOIN` abort recognition instead of lexing
     # "left" as a table alias and misparsing the statement as the
     # inner join the rewrite serves (a false positive would change
     # the answer's row set)
     "inner", "left", "right", "full", "outer", "cross", "semi",
     "anti", "natural", "using", "lateral"}
)

_TOKEN_RE = re.compile(
    r"""(?P<ws>\s+)
      | (?P<str>'[^']*')
      | (?P<qid>`[^`]+`)
      | (?P<num>\d+\.\d+|\.\d+|\d+)
      | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
      | (?P<punct>\(|\)|,|<=|>=|<>|=|<|>|\*|-|\.)
    """,
    re.X,
)


@dataclass(frozen=True)
class AggregateIntent:
    """The recognized statement, engine-ready: ``table`` is the view
    name WITHOUT the ``snap_`` prefix; ``aggs`` maps output alias →
    (fn, column) in answer_aggregate's vocabulary; ``select_order``
    is the SELECT-list output order (answer_aggregate emits group
    cols first, so the engine re-projects); ``order_by`` pairs
    (output column, ascending). ``having`` triples (agg alias, SQL
    comparison op, literal) filter the aggregated rows BEFORE the
    select_order re-projection; a HAVING over an unselected
    aggregate appears in ``aggs`` under a hidden ``__having_N``
    alias that select_order then drops."""

    table: str
    group_by: tuple[str, ...]
    aggs: dict[str, tuple[str, str]]
    #: TIME-BUCKET group keys (r10 VERDICT #2): (output alias,
    #: canonical bucket expression) pairs for ``date_trunc('day',
    #: ts) AS day``-style select items, matched against a rollup
    #: maintained on the identical expression. Always aliased (the
    #: unaliased output name would be the raw expression text, which
    #: the rewrite path will not reproduce), always fact-side, never
    #: combined with joins.
    group_exprs: tuple[tuple[str, str], ...] = ()
    filters: dict[str, list] = field(default_factory=dict)
    range_filters: dict[str, tuple] = field(default_factory=dict)
    select_order: tuple[str, ...] = ()
    order_by: tuple[tuple[str, bool], ...] = ()
    limit: int | None = None
    having: tuple[tuple[str, str, object], ...] = ()
    #: INNER equi-joins to dimension snap_ views (r9 VERDICT #2; r10
    #: second pass generalizes one dim to a multi-dim star). Empty
    #: for the single-table family.
    joins: tuple["JoinClause", ...] = ()
    #: True when any GROUP BY term was a SELECT-list ordinal: the
    #: recognizer resolves it positionally, which matches Spark only
    #: under spark.sql.groupByOrdinal=true (the default) — the
    #: engine refuses the rewrite when that conf is off, where the
    #: verbatim statement groups by the integer LITERAL instead
    #: (r11 code review).
    used_ordinals: bool = False


@dataclass(frozen=True)
class JoinClause:
    """One star spoke: ``dim`` is the view name without the
    ``snap_`` prefix, the join is ``<left>.fk = dim.pk``, and the
    group/filter fields mirror the fact-side vocabulary for columns
    resolved to THIS dim. ``fk_side`` names the LEFT side: "fact"
    for a plain star spoke, or the 0-based index of an EARLIER
    spoke for a snowflake hop (r10 VERDICT #4b — ``orders JOIN
    customer ON o_custkey = c_custkey JOIN nation ON c_nationkey =
    n_nationkey``): the fk then lives in that dim's schema, and the
    hop stays 1:≤1 because THIS dim's pk carries the same
    write-enforced UNIQUE proof every spoke needs."""

    dim: str
    fk: str
    pk: str
    group_by: tuple[str, ...] = ()
    filters: dict = field(default_factory=dict)
    range_filters: dict = field(default_factory=dict)
    fk_side: object = "fact"


class _Ineligible(Exception):
    """Internal: statement shape outside the grammar (never surfaces
    — parse_aggregate_sql returns None)."""


def _tokenize(sql: str) -> list[tuple[str, str]]:
    """(kind, text) tokens; raises _Ineligible on any character the
    strict lexer does not know (comments, semicolons, operators the
    grammar can't serve, escape-bearing literals...)."""
    toks: list[tuple[str, str]] = []
    i, n = 0, len(sql)
    while i < n:
        m = _TOKEN_RE.match(sql, i)
        if m is None:
            raise _Ineligible(f"unexpected character {sql[i]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        text = m.group(0)
        if kind == "word":
            low = text.lower()
            if low in _RESERVED or low in _AGG_FNS:
                toks.append(("kw", low))
            elif text != low:
                # Spark preserves the AS-TYPED spelling of bare
                # columns and aliases in the output schema; the
                # rewrite path re-projects from stored lowercase
                # column names, so any uppercase identifier would
                # change wire-visible headers between rewrite=on and
                # =off (r9 code review) — fall back to verbatim
                raise _Ineligible(f"mixed-case identifier {text!r}")
            else:
                toks.append(("ident", low))
        elif kind == "qid":
            body = text[1:-1]
            if body != body.lower():
                raise _Ineligible(f"mixed-case identifier {body!r}")
            toks.append(("ident", body))
        elif kind == "str":
            body = text[1:-1]
            if "\\" in body:
                raise _Ineligible("escaped literal")
            toks.append(("str", body))
        elif kind == "num":
            toks.append(("num", text))
        else:
            toks.append((text, text))
    return toks


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def peek2(self) -> tuple[str, str]:
        j = self.i + 1
        return self.toks[j] if j < len(self.toks) else ("eof", "")

    def next(self) -> tuple[str, str]:
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind: str, text: str | None = None) -> str:
        k, t = self.next()
        if k != kind or (text is not None and t != text):
            raise _Ineligible(f"expected {text or kind}, got {t!r}")
        return t

    def accept(self, kind: str, text: str | None = None) -> bool:
        k, t = self.peek()
        if k == kind and (text is None or t == text):
            self.i += 1
            return True
        return False

    # -- terminals ---------------------------------------------------

    def ident(self) -> str:
        k, t = self.next()
        if k != "ident":
            raise _Ineligible(f"expected identifier, got {t!r}")
        return t

    def colref(self) -> str:
        """A column reference: ``col`` or ``alias.col`` (one level —
        catalog-qualified names are outside the grammar). Returned as
        the dotted string; _assemble resolves the qualifier against
        the FROM/JOIN aliases (or refuses qualifiers when there is no
        join)."""
        first = self.ident()
        if self.accept(".", "."):
            return f"{first}.{self.ident()}"
        return first

    def _is_bucket_call(self) -> bool:
        k, t = self.peek()
        return (
            k == "ident"
            and t in ("date_trunc", "year", "month")
            and self.peek2() == ("(", "(")
        )

    def bucket_call(self) -> tuple[str, str | None, str]:
        """→ (fn, unit | None, colref) for the whitelisted time-bucket
        vocabulary: ``date_trunc('<unit>', col)`` with a canonical
        lowercase unit, or ``year(col)`` / ``month(col)``. Anything
        else — expression arguments, non-canonical unit spellings
        ('DD', 'mon'), extra args — aborts recognition (the verbatim
        run handles it; ivm.canonical_bucket_expr is the matching
        vocabulary on the rollup side)."""
        fn = self.ident()
        self.expect("(", "(")
        unit = None
        if fn == "date_trunc":
            k, t = self.next()
            if k != "str":
                raise _Ineligible("date_trunc wants a quoted unit")
            unit = t.lower()
            # the ONE unit vocabulary, shared with the rollup
            # maintainer: the parser renders exactly what
            # canonical_bucket_expr validates, so a unit added to
            # ivm.BUCKET_UNITS is recognizable here on the same
            # commit (r11 code review: an inline copy could drift
            # and leave rollups the /sql grammar can never match).
            # Lazy import — this module stays dependency-light
            # until a bucket statement actually parses.
            from ensembl_lakehouse_spark.ivm import BUCKET_UNITS

            if unit not in BUCKET_UNITS:
                raise _Ineligible(f"date_trunc unit {t!r} not servable")
            self.expect(",", ",")
        col = self.colref()
        self.expect(")", ")")
        return (fn, unit, col)

    def literal(self):
        """A scalar literal: string, number, or negated number.
        Numbers come back as int/float so Spark-side comparisons use
        numeric, not string, coercion."""
        k, t = self.next()
        if k == "str":
            return t
        neg = False
        if k == "-":
            neg = True
            k, t = self.next()
        if k != "num":
            raise _Ineligible(f"expected literal, got {t!r}")
        val = float(t) if "." in t else int(t)
        return -val if neg else val

    # -- grammar -----------------------------------------------------

    def parse(self) -> AggregateIntent:
        self.expect("kw", "select")
        items: list[tuple[str, str | None, tuple[str, str] | None]] = []
        while True:
            items.append(self._select_item())
            if not self.accept(",", ","):
                break
        self.expect("kw", "from")
        table = self.ident()
        fact_alias = table
        if self.accept("kw", "as"):
            fact_alias = self.ident()
        elif self.peek()[0] == "ident":
            fact_alias = self.ident()
        joins = []  # [(dim_table, dim_alias, left_ref, right_ref)]
        while True:
            if self.accept("kw", "inner"):
                self.expect("kw", "join")
            elif not self.accept("kw", "join"):
                break
            joins.append(self._join_clause())
        filters: dict[str, list] = {}
        range_filters: dict[str, tuple] = {}
        if self.accept("kw", "where"):
            while True:
                self._predicate(filters, range_filters)
                if not self.accept("kw", "and"):
                    break
        # GROUP BY terms: a column ref, a whitelisted bucket call, or
        # a 1-based SELECT-list ordinal (Spark's groupByOrdinal,
        # default-on — ``GROUP BY 1``)
        group_terms: list[tuple] = []
        if self.accept("kw", "group"):
            self.expect("kw", "by")
            while True:
                if self._is_bucket_call():
                    group_terms.append(("bucket", self.bucket_call()))
                elif self.peek()[0] == "num":
                    k, t = self.next()
                    if "." in t:
                        raise _Ineligible("GROUP BY ordinal wants an int")
                    group_terms.append(("ord", int(t)))
                else:
                    group_terms.append(("col", self.colref()))
                if not self.accept(",", ","):
                    break
        having_terms: list[tuple] = []
        if self.accept("kw", "having"):
            while True:
                having_terms.append(self._having_term())
                if not self.accept("kw", "and"):
                    break
        order_by: list[tuple[str, bool]] = []
        if self.accept("kw", "order"):
            self.expect("kw", "by")
            while True:
                col = self.ident()
                asc = True
                if self.accept("kw", "asc"):
                    asc = True
                elif self.accept("kw", "desc"):
                    asc = False
                order_by.append((col, asc))
                if not self.accept(",", ","):
                    break
        limit = None
        if self.accept("kw", "limit"):
            k, t = self.next()
            if k != "num" or "." in t:
                raise _Ineligible("LIMIT wants an integer")
            limit = int(t)
        if self.peek()[0] != "eof":
            raise _Ineligible(f"trailing tokens: {self.peek()[1]!r}")
        return self._assemble(
            items, table, fact_alias, joins, filters, range_filters,
            group_terms, having_terms, order_by, limit,
        )

    def _join_clause(self):
        """→ (dim_table, dim_alias, left_ref, right_ref): exactly one
        equi-condition between two qualified references."""
        dim = self.ident()
        dim_alias = dim
        if self.accept("kw", "as"):
            dim_alias = self.ident()
        elif self.peek()[0] == "ident":
            dim_alias = self.ident()
        self.expect("kw", "on")
        left = self.colref()
        self.expect("=", "=")
        right = self.colref()
        return (dim, dim_alias, left, right)

    def _select_item(self):
        """→ (output name, bare column ref | None, (fn, col ref) |
        None, bucket (fn, unit, col ref) | None). Output names are
        always UNQUALIFIED (Spark strips the qualifier from the
        output schema). A bucket call REQUIRES an alias: unaliased,
        Spark names the output after the raw expression text, which
        the rewrite path will not reproduce."""
        k, t = self.peek()
        if self._is_bucket_call():
            bucket = self.bucket_call()
            self.expect("kw", "as")
            alias = self.ident()
            return (alias, None, None, bucket)
        if k == "ident":
            ref = self.colref()
            if self.accept("kw", "as"):
                # aliased bare column: output name differs from the
                # group key, which the rewrite path can't reproduce
                # without a rename map — keep the grammar small
                raise _Ineligible("aliased bare column")
            return (ref.rsplit(".", 1)[-1], ref, None, None)
        if k == "kw" and t in _AGG_FNS:
            self.next()
            fn, col = self._agg_call(t)
            self.expect("kw", "as")
            alias = self.ident()
            return (alias, None, (fn, col), None)
        raise _Ineligible(f"unsupported select item at {t!r}")

    def _having_term(self) -> tuple:
        """→ ((kind, payload), op, literal): kind "alias" names a
        SELECT-list output, kind "agg" is a direct (fn, col) call the
        assembler gives a hidden measure alias. Only aggregate-vs-
        literal comparisons are servable — anything else (column
        comparands, OR, parens) aborts recognition."""
        k, t = self.peek()
        if k == "kw" and t in _AGG_FNS:
            self.next()
            ref = ("agg", self._agg_call(t))
        elif k == "ident":
            self.next()
            ref = ("alias", t)
        else:
            raise _Ineligible(f"unsupported HAVING term at {t!r}")
        op = self._cmp_op()
        return (ref, op, self.literal())

    def _cmp_op(self) -> str:
        k, t = self.next()
        if k in ("=", "<", ">", "<=", ">=", "<>"):
            return k
        raise _Ineligible(f"unsupported comparison operator {t!r}")

    def _agg_call(self, fn: str) -> tuple[str, str]:
        self.expect("(", "(")
        if fn == "count":
            k, t = self.peek()
            if (k, t) in (("*", "*"), ("num", "1")):
                self.next()
                self.expect(")", ")")
                return ("count", "")
            if k == "ident":
                # COUNT(col) counts non-NULLs — derivable from the
                # rollup row count ONLY under a proven NOT-NULL
                # constraint, which semantic_gate enforces
                ref = self.colref()
                self.expect(")", ")")
                return ("count", ref)
            raise _Ineligible("COUNT wants *, 1, or a column")
        if fn == "hll_sketch_estimate":
            # the DataSketches spelling: hll_sketch_estimate(
            #   hll_sketch_agg(col))
            k, t = self.next()
            if (k, t) != ("ident", "hll_sketch_agg"):
                raise _Ineligible(
                    "hll_sketch_estimate only over hll_sketch_agg(col)"
                )
            self.expect("(", "(")
            col = self.colref()
            self.expect(")", ")")
            self.expect(")", ")")
            return ("approx_count_distinct", col)
        if fn == "approx_percentile":
            # approx_percentile(col, q) — q a plain (0, 1) numeric
            # literal; the quantile rides in the fn spelling (the
            # engine vocabulary is (fn, col) pairs everywhere)
            col = self.colref()
            self.expect(",", ",")
            k, t = self.next()
            if k != "num":
                raise _Ineligible("approx_percentile wants a numeric q")
            q = float(t)
            if not (0.0 < q < 1.0):
                raise _Ineligible("approx_percentile q must be in (0, 1)")
            self.expect(")", ")")
            return (f"approx_percentile@{q!r}", col)
        col = self.colref()
        self.expect(")", ")")
        return (fn, col)

    def _predicate(self, filters: dict, range_filters: dict) -> None:
        col = self.colref()
        if col in filters or col in range_filters:
            # two predicates on one column intersect; the rewrite
            # vocabulary carries one per column — fall back
            raise _Ineligible(f"multiple predicates on {col!r}")
        k, t = self.next()
        if k == "=":
            filters[col] = [self.literal()]
        elif (k, t) == ("kw", "in"):
            self.expect("(", "(")
            vals = [self.literal()]
            while self.accept(",", ","):
                vals.append(self.literal())
            self.expect(")", ")")
            filters[col] = vals
        elif (k, t) == ("kw", "between"):
            lo = self.literal()
            self.expect("kw", "and")
            hi = self.literal()
            range_filters[col] = (lo, hi)
        else:
            raise _Ineligible(f"unsupported predicate operator {t!r}")

    def _assemble(
        self, items, table, fact_alias, joins, filters, range_filters,
        group_terms, having_terms, order_by, limit,
    ) -> AggregateIntent:
        if not table.startswith("snap_") or len(table) <= len("snap_"):
            raise _Ineligible("not a snap_ view")
        aliases: dict[str, object] = {fact_alias: "fact"}
        for i, (dim_table, dim_alias, _, _) in enumerate(joins):
            if (
                not dim_table.startswith("snap_")
                or len(dim_table) <= len("snap_")
            ):
                raise _Ineligible("join target is not a snap_ view")
            if dim_alias in aliases:
                raise _Ineligible("duplicate table alias")
            aliases[dim_alias] = i

        def side(ref: str) -> tuple[object, str]:
            """Resolve ``[alias.]col`` → ("fact" | dim index, col).
            With any join every reference MUST be qualified (an
            unqualified name could bind to several sides and Spark's
            resolution, not this grammar, would pick); without one a
            qualifier must name the single table's alias."""
            if "." in ref:
                q, c = ref.split(".", 1)
                if q in aliases:
                    return (aliases[q], c)
                raise _Ineligible(f"unknown qualifier {q!r}")
            if joins:
                raise _Ineligible(
                    f"unqualified column {ref!r} in a join query"
                )
            return ("fact", ref)

        # (fk, pk, fk_side) per dim: fk_side is "fact" for a star
        # spoke or an EARLIER spoke's index for a snowflake hop —
        # each ON equates the just-joined dim with a side already
        # bound, never a later one (a forward reference could only
        # half-parse) and never itself
        on_keys: list[tuple[str, str, object]] = []
        for i, (_, _, lref, rref) in enumerate(joins):
            on_sides: dict[object, str] = {}
            for ref in (lref, rref):
                s, c = side(ref)
                on_sides[s] = c
            if i not in on_sides or len(on_sides) != 2:
                raise _Ineligible(
                    "each ON must equate the just-joined dim's column "
                    "with an already-bound side (star/snowflake only)"
                )
            left = next(s for s in on_sides if s != i)
            if left != "fact" and (not isinstance(left, int) or left >= i):
                raise _Ineligible(
                    "ON references a dim joined later in the statement"
                )
            on_keys.append((on_sides[left], on_sides[i], left))
        def bucket_canon(bucket: tuple) -> str:
            """Resolve a bucket call's column and render the
            canonical form (ivm.canonical_bucket_expr's spelling).
            Fact-side only: bucket keys answer from fact-keyed
            rollups, and the join families do not model them."""
            fn, unit, colref = bucket
            s, c = side(colref)
            if s != "fact":
                raise _Ineligible(
                    "bucket group key over a dim column — only "
                    "fact-side buckets answer from rollups"
                )
            if fn == "date_trunc":
                return f"date_trunc('{unit}',{c})"
            return f"{fn}({c})"

        aggs: dict[str, tuple[str, str]] = {}
        bare: list[tuple[str, str]] = []
        buckets: list[tuple[str, str]] = []  # (alias, canonical expr)
        select_order: list[str] = []
        for out, bare_ref, agg, bucket in items:
            if out in select_order:
                raise _Ineligible(f"duplicate output column {out!r}")
            select_order.append(out)
            if bucket is not None:
                canon = bucket_canon(bucket)
                if canon in {e for _, e in buckets}:
                    # two aliases of one expression: servable in
                    # principle, but the GROUP BY agreement below
                    # would need multiset bookkeeping — keep strict
                    raise _Ineligible(f"duplicate bucket {canon!r}")
                buckets.append((out, canon))
            elif bare_ref is not None:
                bare.append(side(bare_ref))
            else:
                fn, acol = agg
                if acol:
                    s, c = side(acol)
                    if s != "fact":
                        raise _Ineligible(
                            f"{out}: aggregate over a dim column — "
                            "only fact measures derive from rollup "
                            "partials"
                        )
                    agg = (fn, c)
                aggs[out] = agg
        if buckets and joins:
            raise _Ineligible(
                "bucket group keys are not servable with joins"
            )
        if not aggs:
            raise _Ineligible("no aggregate in the select list")
        # HAVING resolution: alias terms must name a SELECT-list
        # aggregate (a bare group column is WHERE semantics in
        # disguise — outside the vocabulary); direct calls reuse the
        # selected alias computing the identical measure, else get a
        # hidden __having_N alias that select_order drops. Alias
        # terms resolve against the SELECT-list SNAPSHOT, not the
        # growing aggs dict: a user-written __having_N identifier
        # must never bind to a parser-invented hidden measure (the
        # verbatim statement errors on it, so serving an answer
        # would be a recognizer false positive — r9 code review)
        selected_aggs = frozenset(aggs)
        having: list[tuple[str, str, object]] = []
        for ref, op, lit in having_terms:
            kind, payload = ref
            if kind == "alias":
                if payload not in selected_aggs:
                    raise _Ineligible(
                        f"HAVING references {payload!r}, which is not a "
                        "selected aggregate"
                    )
                having.append((payload, op, lit))
                continue
            fn, acol = payload
            if acol:
                s, c = side(acol)
                if s != "fact":
                    raise _Ineligible(
                        "HAVING aggregates a dim column — only fact "
                        "measures derive from rollup partials"
                    )
                payload = (fn, c)
            alias = next(
                (a for a, v in aggs.items() if v == payload), None
            )
            if alias is None:
                n = 0
                while f"__having_{n}" in aggs:  # user-held names skip
                    n += 1
                alias = f"__having_{n}"
                aggs[alias] = payload
            having.append((alias, op, lit))
        # the non-aggregate SELECT items and the GROUP BY must agree
        # exactly: answer_aggregate emits every group key, and a
        # grouped key missing from the SELECT would change the output
        # schema. Ordinals resolve to the 1-based SELECT item (Spark's
        # groupByOrdinal), which must itself be a group key; bucket
        # terms match a SELECT bucket by canonical-expression
        # equality.
        grouped: list[tuple[str, str]] = []
        grouped_buckets: list[str] = []
        used_ordinals = any(k == "ord" for k, _ in group_terms)
        for term in group_terms:
            kind, payload = term
            if kind == "ord":
                if not (1 <= payload <= len(items)):
                    raise _Ineligible(f"GROUP BY ordinal {payload}")
                out, bare_ref, agg, bucket = items[payload - 1]
                if agg is not None:
                    raise _Ineligible(
                        "GROUP BY ordinal names an aggregate"
                    )
                if bucket is not None:
                    grouped_buckets.append(bucket_canon(bucket))
                else:
                    grouped.append(side(bare_ref))
            elif kind == "bucket":
                grouped_buckets.append(bucket_canon(payload))
            else:
                grouped.append(side(payload))
        if set(bare) != set(grouped) or len(bare) != len(set(bare)):
            raise _Ineligible("SELECT columns != GROUP BY columns")
        if len(grouped) != len(set(grouped)):
            raise _Ineligible("duplicate GROUP BY column")
        if {e for _, e in buckets} != set(grouped_buckets) or len(
            grouped_buckets
        ) != len(set(grouped_buckets)):
            raise _Ineligible("SELECT buckets != GROUP BY buckets")
        bare_out = {c for _, c in bare} | {a for a, _ in buckets}
        if bare_out & set(aggs):
            raise _Ineligible("alias collides with a group column")
        out_cols = set(select_order)
        for col, _ in order_by:
            if col not in out_cols:
                raise _Ineligible(f"ORDER BY {col!r} is not selected")
        # LIMIT cuts the row SET, so the ordering must be provably
        # TOTAL over the aggregate output or ties at the cut could
        # resolve differently on the rewritten plan than the
        # verbatim one (r9 code review): the group keys are unique
        # per output row, so an ORDER BY that includes every group
        # column is total; anything else falls back. (ORDER BY
        # without LIMIT only permutes ties — the set is identical
        # and SQL leaves tie order unspecified either way.)
        if limit is not None and bare_out - {c for c, _ in order_by}:
            raise _Ineligible(
                "LIMIT with an ORDER BY that is not a total order "
                "over the group keys"
            )
        flt: dict[object, dict] = {
            s: {} for s in ["fact", *range(len(joins))]
        }
        rng: dict[object, dict] = {
            s: {} for s in ["fact", *range(len(joins))]
        }
        # the parser's duplicate-predicate check compared raw
        # spellings; `t.x` and `x` resolve to the SAME column, and a
        # dict overwrite here would silently drop one predicate —
        # serving a wrong row set as eligible (r10 code review), so
        # resolved collisions abort recognition instead
        for ref, vals in filters.items():
            s, c = side(ref)
            if c in flt[s]:
                raise _Ineligible(f"multiple predicates on {c!r}")
            flt[s][c] = vals
        for ref, bounds in range_filters.items():
            s, c = side(ref)
            if c in rng[s] or c in flt[s]:
                raise _Ineligible(f"multiple predicates on {c!r}")
            rng[s][c] = bounds
        return AggregateIntent(
            table=table[len("snap_"):],
            group_by=tuple(c for s, c in grouped if s == "fact"),
            group_exprs=tuple(buckets),
            used_ordinals=used_ordinals,
            aggs=aggs,
            filters=flt["fact"],
            range_filters=rng["fact"],
            select_order=tuple(select_order),
            order_by=tuple(order_by),
            limit=limit,
            having=tuple(having),
            joins=tuple(
                JoinClause(
                    dim=joins[i][0][len("snap_"):],
                    fk=on_keys[i][0],
                    pk=on_keys[i][1],
                    group_by=tuple(c for s, c in grouped if s == i),
                    filters=flt[i],
                    range_filters=rng[i],
                    fk_side=on_keys[i][2],
                )
                for i in range(len(joins))
            ),
        )


def parse_aggregate_sql(sql: str) -> AggregateIntent | None:
    """The recognizer: the intent when the statement is inside the
    servable grammar, else None (run the text verbatim)."""
    try:
        return _Parser(_tokenize(sql)).parse()
    except _Ineligible:
        return None


_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def semantic_gate(
    intent: AggregateIntent,
    schema,
    allow_estimates: bool,
    non_null_cols: frozenset[str] | set[str] = frozenset(),
    dim_schemas=(),
    dim_uniques=(),
) -> str | None:
    """Prove the recognized statement's answer is reproducible from
    rollup partials given the fact table's Spark ``schema``
    (StructType) and, for a star/snowflake statement, each spoke's
    schema (``dim_schemas``) and UNIQUE-proven columns
    (``dim_uniques``), both in ``intent.joins`` order. A single-table
    statement is the star with zero spokes, so every rule below
    applies to both; the spoke rules simply never run for it.
    Returns None when safe, else the human-readable reason to fall
    back (recorded in the response's rewrite audit).

    ``non_null_cols`` is the engine-proven set of fact columns that
    cannot be NULL *at the pinned version* — parquet reads force
    nullable=true on every field, so schema nullability proves
    nothing; the proof comes from a write-enforced ``col IS NOT
    NULL`` CHECK constraint whose ``since_version`` the pin postdates
    (snapshots.constraint_records; rollback refuses to cross it).

    Per spoke, ``fact INNER JOIN dim_i ON fk_i = dim_i.pk_i``
    recombines from fk-keyed fact partials iff

    - ``dim.pk`` carries a write-enforced UNIQUE constraint the dim
      pin postdates (snapshots.add_unique_constraint): each join is
      then provably 1:≤1 per partial, so re-aggregating joined
      partials is the plain rollup algebra;
    - fk and pk have the same Spark type (a cross-type equality
      would engage Spark's implicit casts, which this grammar does
      not model);
    - no dim group column shares a name with a fact-side column or
      another spoke's group columns (the composed join output would
      be ambiguous; SELECT-list duplicates are refused by the parser
      — this covers unselected fks);
    - an estimate-tier measure is grouped by every fact-side fk
      (a final estimate cannot be re-merged across groups).

    Identifier case: the lexer lowercases, so resolution here is
    case-insensitive against each schema — Spark's own default."""
    joins = intent.joins
    # side 0 is the fact, side i + 1 the i-th spoke; an fk lives on
    # the fact for a star spoke and on an EARLIER spoke for a
    # snowflake hop
    fields = [
        {f.name.lower(): f for f in s.fields} for s in (schema, *dim_schemas)
    ]
    names = [intent.table] + [j.dim for j in joins]
    refs = [
        set(intent.group_by)
        | set(intent.filters)
        | set(intent.range_filters)
        | {c for _, c in intent.aggs.values() if c}
    ] + [
        set(j.group_by) | set(j.filters) | set(j.range_filters) | {j.pk}
        for j in joins
    ]
    fk_sides = [0 if j.fk_side == "fact" else j.fk_side + 1 for j in joins]
    for j, s in zip(joins, fk_sides):
        refs[s].add(j.fk)
    for side_refs, side_fields, name in zip(refs, fields, names):
        for col in sorted(side_refs):
            if col.startswith("__"):
                # the rewrite's own columns live under the __ prefix
                # (join pk/fk carriers, quantile sketch states): a
                # table column there could be clobbered mid-plan
                return (
                    f"column {col!r} collides with the rewrite's "
                    "reserved partial namespace"
                )
            if col not in side_fields:
                return f"column {col!r} not in the table schema of snap_{name}"
            if side_fields[col].name != col:
                # the native run names output columns as the schema
                # spells them; the lexer lowercased, so a mixed-case
                # field would change the output schema — fall back
                return (
                    f"column {col!r} is mixed-case in the schema of "
                    f"snap_{name}"
                )
    ffields = fields[0]
    if intent.group_exprs:
        from ensembl_lakehouse_spark.ivm import canonical_bucket_expr

        for alias, expr in intent.group_exprs:
            if alias in ffields:
                # the rewrite's base path ADDS the alias as a new
                # column; were it a real column, the verbatim
                # statement's own resolution could differ — refuse
                return (
                    f"bucket alias {alias!r} collides with a table "
                    "column"
                )
            # _ROLLUP_INTERNAL is THE reserved-partial namespace
            # (plans/rewrite.py) — one set, not a re-spelled copy, so
            # a new partial column reserves its alias here on the
            # same commit (r11 code review)
            from ensembl_lakehouse_spark.plans.rewrite import (
                _ROLLUP_INTERNAL,
            )

            if alias in _ROLLUP_INTERNAL or alias.startswith("__"):
                # the rollup path aliases the stored bucket column
                # BEFORE re-aggregating — these spellings would
                # clobber the partial being read (r11 code review)
                return (
                    f"bucket alias {alias!r} collides with the "
                    "rewrite's reserved partial namespace"
                )
            _, srccol = canonical_bucket_expr(expr)
            f = ffields.get(srccol)
            if f is None:
                return f"column {srccol!r} not in the table schema"
            if f.name != srccol:
                return f"column {srccol!r} is mixed-case in the schema"
            t = f.dataType.simpleString()
            if t not in ("date", "timestamp", "timestamp_ntz"):
                # over other types the functions engage implicit
                # casts this grammar does not model
                return (
                    f"bucket {expr!r} needs a date/timestamp column, "
                    f"and {srccol} is {t}"
                )
    # ambiguity set = raw names present in the composed partial plan:
    # fact group cols + FACT-side fks. Snowflake hop fks never appear
    # raw (answer_join_aggregate carries them under reserved __jp_fk
    # aliases), so listing them here would wrongly refuse GROUP BY on
    # the very dim column a hop keys off
    taken = {j.fk for j in joins if j.fk_side == "fact"} | set(
        intent.group_by
    )
    merges_partials = False
    for i, (j, s) in enumerate(zip(joins, fk_sides)):
        # GROUP BY the dim's own pk under its fk's spelling is a
        # supported shape (answer_join_aggregate re-reads the value
        # from the reserved pk alias, and the two columns are EQUAL
        # under the inner equi-join) — exempt exactly that name from
        # the ambiguity rule (r10 second review: the blanket check
        # regressed a shape the first pass served)
        exempt = {j.pk} if j.pk == j.fk else set()
        clashing = (set(j.group_by) - exempt) & taken
        if clashing:
            return (
                f"dim group column(s) {sorted(clashing)} share a name "
                "with another side's columns — the composed plan's "
                "join output would be ambiguous"
            )
        taken |= set(j.group_by)
        # a snowflake hop's fk lives in an EARLIER dim, whose own
        # pk-unique proof (checked on that spoke's turn) makes every
        # row of it reach ≤1 row here — the 1:≤1 composition the
        # recombination algebra needs
        if j.pk not in dim_uniques[i]:
            return (
                f"join key {j.pk!r} has no write-enforced UNIQUE proof "
                f"at the {j.dim} pin — add one with "
                "add_unique_constraint to enable the join rewrite"
            )
        fk_t = fields[s][j.fk].dataType.simpleString()
        pk_t = fields[i + 1][j.pk].dataType.simpleString()
        if fk_t != pk_t:
            return (
                f"join keys have different types ({j.fk}: {fk_t}, "
                f"{j.pk}: {pk_t}) — implicit-cast equality is outside "
                "the grammar"
            )
        # Estimate-tier special case (r10 VERDICT #6): a final
        # estimate cannot be RE-MERGED across groups, but when the
        # output grouping preserves the partial grouping 1:1 no merge
        # ever happens — the join only filters whole partial groups
        # (dim filters select whole pks) and attaches functionally-
        # dependent dim attributes. That holds exactly when EVERY
        # fact-side fk is itself a group key (directly, or as the
        # dim's pk under the same spelling — the equal-value exempt
        # shape). Hop spokes key off an earlier dim's column, a
        # function of that dim's pk, so they never split a partial
        # group.
        if j.fk_side == "fact" and not (
            j.fk in intent.group_by or (j.pk == j.fk and j.pk in j.group_by)
        ):
            merges_partials = True
    grouped = bool(
        intent.group_by
        or intent.group_exprs
        or any(j.group_by for j in joins)
    )
    having_aliases = {alias for alias, _, _ in intent.having}
    for out, (fn, col) in intent.aggs.items():
        fn = fn.split("@", 1)[0]  # approx_percentile@q → base name
        if fn in ESTIMATE_FNS:
            if out in having_aliases:
                # a HAVING filter on an estimate-tier measure selects
                # WHICH rows return — swapping the estimator (native
                # HLL++ vs DataSketches partials) could change the
                # surviving row SET, not just a displayed value, so
                # this is never rewritable (no opt-in tier exists)
                return (
                    f"{out}: HAVING filters on an estimate-tier measure "
                    "— the rewrite could change the surviving row set, "
                    "never eligible"
                )
            if merges_partials:
                return (
                    f"{out}: only exact-tier measures recombine across "
                    "a join (estimates cannot be re-merged from final "
                    "values; grouping by every join fk would avoid the "
                    "merge)"
                )
            if not allow_estimates:
                return (
                    f"{out}: estimate-tier rewrite (the rollup's sketch "
                    "vs the statement's native estimator) needs "
                    "rewrite=approx"
                )
            if fn == "approx_percentile":
                t = ffields[col].dataType.simpleString()
                if t not in _INTEGRAL and t not in ("float", "double") and \
                        not t.startswith("decimal"):
                    return (
                        f"{out}: approx_percentile needs a numeric "
                        f"column, and {col} is {t}"
                    )
        elif fn == "count" and col and col not in non_null_cols:
            return (
                f"{out}: COUNT({col}) counts non-NULL rows — needs a "
                f"proven NOT-NULL column (add a '{col} IS NOT NULL' "
                "CHECK constraint) to derive from the rollup row "
                "count"
            )
        elif fn in ("sum", "avg"):
            if not grouped:
                # a GLOBAL aggregate can see ZERO rows (filters match
                # nothing / all groups tombstoned / no row joins): SQL
                # SUM/AVG of the empty set is NULL, the rollup algebra
                # coalesces to 0 — the NOT-NULL column proof cannot
                # cover the empty SET (r9 code review). Grouped
                # queries are safe: a group only exists where rows do.
                return (
                    f"{out}: global {fn.upper()} over zero rows is NULL "
                    "in SQL but 0 in the rollup algebra — only grouped "
                    f"{fn.upper()} rewrites"
                )
            t = ffields[col].dataType.simpleString()
            if t not in _INTEGRAL:
                return (
                    f"{out}: rollup SUM accumulates per-row BIGINT "
                    f"casts — exact only for integral columns, and "
                    f"{col} is {t}"
                )
            if col not in non_null_cols:
                return (
                    f"{out}: {fn.upper()}({col}) needs a proven "
                    f"NOT-NULL column (an all-NULL group is NULL in "
                    f"SQL but 0 in the rollup; AVG divides by the "
                    f"non-NULL count) — add a '{col} IS NOT NULL' "
                    "CHECK constraint to enable this rewrite"
                )
    return None
