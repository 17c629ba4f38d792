"""The /sql MV-rewrite recognizer (plans/sql_rewrite.py): strict
grammar — anything outside the servable family returns None (the
statement runs verbatim, so a false negative is only a missed
optimization), and inside the family every clause extracts exactly.
No SparkSession needed — the parser and the semantic gate are pure."""

from __future__ import annotations

import pytest

from ensembl_lakehouse_spark.plans.sql_rewrite import (
    AggregateIntent,
    parse_aggregate_sql,
    semantic_gate,
)


def test_full_statement_extracts_every_clause():
    i = parse_aggregate_sql(
        "SELECT type, COUNT(*) AS n, sum(value) AS total "
        "FROM snap_events "
        "WHERE type IN ('click', 'view') AND day BETWEEN 1 AND 7 "
        "GROUP BY type ORDER BY n DESC, type LIMIT 10"
    )
    assert i == AggregateIntent(
        table="events",
        group_by=("type",),
        aggs={"n": ("count", ""), "total": ("sum", "value")},
        filters={"type": ["click", "view"]},
        range_filters={"day": (1, 7)},
        select_order=("type", "n", "total"),
        order_by=(("n", False), ("type", True)),
        limit=10,
    )


def test_global_aggregate_and_count_one():
    i = parse_aggregate_sql("SELECT COUNT(1) AS n FROM snap_events")
    assert i.group_by == () and i.aggs == {"n": ("count", "")}


def test_min_max_and_equality_filter():
    i = parse_aggregate_sql(
        "SELECT reg, MIN(val) AS lo, MAX(val) AS hi FROM snap_t "
        "WHERE grp = 'g1' GROUP BY reg"
    )
    assert i.aggs == {"lo": ("min", "val"), "hi": ("max", "val")}
    assert i.filters == {"grp": ["g1"]}


def test_numeric_literals_parse_typed():
    i = parse_aggregate_sql(
        "SELECT COUNT(*) AS n FROM snap_t WHERE a = 5 AND b = -2 "
        "AND c BETWEEN 1.5 AND 2"
    )
    assert i.filters == {"a": [5], "b": [-2]}
    assert i.range_filters == {"c": (1.5, 2)}


def test_hll_sketch_spelling_maps_to_approx_count_distinct():
    i = parse_aggregate_sql(
        "SELECT hll_sketch_estimate(hll_sketch_agg(uid)) AS u "
        "FROM snap_events"
    )
    assert i.aggs == {"u": ("approx_count_distinct", "uid")}


def test_keywords_fold_identifiers_must_be_lowercase_literals_exact():
    """Keywords and function names are case-insensitive; IDENTIFIERS
    must be lowercase (Spark preserves as-typed output names, which
    the rewrite cannot reproduce — r9 code review); string literals
    stay byte-exact."""
    i = parse_aggregate_sql(
        "select type, Count(*) as n from snap_events "
        "where type = 'Click' group by type"
    )
    assert i.table == "events" and i.group_by == ("type",)
    assert i.filters == {"type": ["Click"]}  # literal byte-exact


@pytest.mark.parametrize(
    "sql",
    [
        # outside the grammar — each must run verbatim, never misparse
        "SELECT type FROM snap_events",  # no aggregate
        "SELECT COUNT(*) FROM snap_events",  # unaliased aggregate
        "SELECT DISTINCT type FROM snap_events",
        # (r10: a SINGLE-table alias-qualified statement now parses —
        # covered positively below; misqualified names stay outside)
        "SELECT x.type, COUNT(*) AS n FROM snap_events t GROUP BY t.type",
        "SELECT type, COUNT(*) AS n FROM events GROUP BY type",  # not snap_
        "SELECT a, COUNT(*) AS n FROM snap_t GROUP BY a, b",  # SELECT != GROUP BY
        "SELECT a, b, COUNT(*) AS n FROM snap_t GROUP BY a",
        "SELECT COUNT(*) AS n FROM snap_t WHERE a > 5",  # non-eq predicate
        "SELECT COUNT(*) AS n FROM snap_t WHERE a = 1 OR b = 2",
        "SELECT COUNT(*) AS n FROM snap_t WHERE a = 1 AND a = 2",  # dup col
        "SELECT COUNT(*) AS n FROM snap_t JOIN snap_u ON 1 = 1",
        "SELECT SUM(a + b) AS s FROM snap_t",  # expression arg
        "SELECT COUNT(*) AS n FROM snap_t -- comment",
        "SELECT COUNT(*) AS n FROM snap_t; DROP TABLE x",
        "SELECT COUNT(*) AS n FROM (SELECT * FROM snap_t)",
        "SELECT a AS b, COUNT(*) AS n FROM snap_t GROUP BY a",  # aliased bare
        "SELECT a, COUNT(*) AS a FROM snap_t GROUP BY a",  # alias collision
        "SELECT COUNT(*) AS n FROM snap_t ORDER BY missing",  # unselected sort
        "SELECT COUNT(*) AS n FROM snap_t WHERE s = 'it''s'",  # escaped literal
        "SELECT approx_count_distinct(a, 0.01) AS u FROM snap_t",  # rsd arg
        "SELECT hll_sketch_estimate(x) AS u FROM snap_t",  # not over agg
        "",
    ],
)
def test_outside_grammar_returns_none(sql):
    assert parse_aggregate_sql(sql) is None


# -- semantic gate (pure: takes a StructType) -------------------------

def _schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("type", StringType()),
            StructField("value", LongType()),
            StructField("price", DoubleType()),
            StructField("MiXed", LongType()),
        ]
    )


def _intent(aggs, group_by=("type",), **kw):
    return AggregateIntent(
        table="t", group_by=group_by, aggs=aggs,
        select_order=tuple(group_by) + tuple(aggs), **kw
    )


def test_gate_accepts_count_min_max_without_proofs():
    i = _intent({"n": ("count", ""), "lo": ("min", "price")})
    assert semantic_gate(i, _schema(), False) is None


def test_gate_requires_not_null_proof_for_sum_and_avg():
    i = _intent({"s": ("sum", "value")})
    reason = semantic_gate(i, _schema(), False)
    assert reason and "NOT-NULL" in reason
    assert semantic_gate(i, _schema(), False, {"value"}) is None


def test_gate_rejects_sum_on_fractional_even_with_proof():
    i = _intent({"s": ("sum", "price")})
    reason = semantic_gate(i, _schema(), False, {"price"})
    assert reason and "integral" in reason


def test_gate_estimates_need_opt_in():
    i = _intent({"u": ("approx_count_distinct", "value")})
    assert "rewrite=approx" in semantic_gate(i, _schema(), False)
    assert semantic_gate(i, _schema(), True) is None


def test_gate_rejects_unknown_and_mixed_case_columns():
    assert "not in the table schema" in semantic_gate(
        _intent({"n": ("count", "")}, group_by=("nope",)), _schema(), False
    )
    assert "mixed-case" in semantic_gate(
        _intent({"lo": ("min", "mixed")}), _schema(), False
    )


def test_gate_reserves_the_double_underscore_namespace():
    """The rewrite's own columns (join key carriers, quantile sketch
    states) live under ``__``, so a single-table statement naming a
    ``__`` column falls back just like a star statement does."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([
        StructField("__q_v", LongType()), StructField("v", LongType()),
    ])
    i = parse_aggregate_sql(
        "SELECT __q_v, COUNT(*) AS n FROM snap_t GROUP BY __q_v"
    )
    assert i is not None and i.group_by == ("__q_v",)
    reason = semantic_gate(i, schema, False)
    assert reason and "reserved partial namespace" in reason


# -- r9 code-review gates ----------------------------------------------

@pytest.mark.parametrize(
    "sql",
    [
        # Spark preserves as-typed case in output schemas; the
        # rewrite re-projects lowercase stored columns, so any
        # uppercase identifier must fall back to verbatim
        "SELECT GRP, COUNT(*) AS n FROM snap_t GROUP BY GRP",
        "SELECT grp, COUNT(*) AS Cnt FROM snap_t GROUP BY grp",
        "SELECT `Grp`, COUNT(*) AS n FROM snap_t GROUP BY `Grp`",
        # LIMIT cuts the row set: ORDER BY must be total over the
        # group keys or ties at the cut could differ from verbatim
        "SELECT a, b, COUNT(*) AS n FROM snap_t GROUP BY a, b "
        "ORDER BY n LIMIT 1",
        "SELECT a, b, COUNT(*) AS n FROM snap_t GROUP BY a, b "
        "ORDER BY n, a LIMIT 2",
    ],
)
def test_case_and_limit_tie_gates_fall_back(sql):
    assert parse_aggregate_sql(sql) is None


def test_limit_with_total_order_stays_eligible():
    i = parse_aggregate_sql(
        "SELECT a, b, COUNT(*) AS n FROM snap_t GROUP BY a, b "
        "ORDER BY n DESC, a, b LIMIT 2"
    )
    assert i is not None and i.limit == 2
    # global aggregate: single row, any LIMIT is trivially total
    assert parse_aggregate_sql(
        "SELECT COUNT(*) AS n FROM snap_t LIMIT 1"
    ) is not None


def test_global_sum_avg_fall_back_grouped_stay(spark=None):
    """SQL SUM/AVG of the EMPTY set is NULL; the rollup algebra
    coalesces to 0 — a global (ungrouped) SUM/AVG can see zero rows,
    so the gate refuses it even with the NOT-NULL proof."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([
        StructField("g", LongType()), StructField("v", LongType()),
    ])
    g = parse_aggregate_sql("SELECT SUM(v) AS s FROM snap_t")
    reason = semantic_gate(g, schema, False, {"v"})
    assert reason and "zero rows" in reason
    grouped = parse_aggregate_sql(
        "SELECT g, SUM(v) AS s FROM snap_t GROUP BY g"
    )
    assert semantic_gate(grouped, schema, False, {"v"}) is None
    # global COUNT/MIN/MAX keep their exact zero-row semantics
    cnt = parse_aggregate_sql("SELECT COUNT(*) AS n, MIN(v) AS lo FROM snap_t")
    assert semantic_gate(cnt, schema, False) is None


# -- r9: HAVING + COUNT(col) grammar extension -------------------------

def test_having_on_selected_alias_extracts():
    i = parse_aggregate_sql(
        "SELECT type, COUNT(*) AS n FROM snap_events GROUP BY type "
        "HAVING n > 1"
    )
    assert i is not None
    assert i.having == (("n", ">", 1),)
    assert i.select_order == ("type", "n")


def test_having_direct_call_reuses_selected_alias():
    i = parse_aggregate_sql(
        "SELECT type, COUNT(*) AS n FROM snap_events GROUP BY type "
        "HAVING count(*) >= 2"
    )
    assert i.having == (("n", ">=", 2),)
    assert set(i.aggs) == {"n"}  # no hidden duplicate measure


def test_having_direct_call_gets_hidden_alias_dropped_from_select():
    i = parse_aggregate_sql(
        "SELECT type, COUNT(*) AS n FROM snap_events GROUP BY type "
        "HAVING sum(value) < 100 AND min(value) <> 0"
    )
    assert set(i.aggs) == {"n", "__having_0", "__having_1"}
    assert i.aggs["__having_0"] == ("sum", "value")
    assert i.aggs["__having_1"] == ("min", "value")
    assert i.having == (
        ("__having_0", "<", 100), ("__having_1", "<>", 0),
    )
    assert i.select_order == ("type", "n")  # hidden aliases dropped


def test_having_every_comparison_operator():
    for op in ("=", "<", ">", "<=", ">=", "<>"):
        i = parse_aggregate_sql(
            f"SELECT type, COUNT(*) AS n FROM snap_events "
            f"GROUP BY type HAVING n {op} 3"
        )
        assert i is not None and i.having == (("n", op, 3),), op


def test_having_hidden_alias_skips_user_held_name():
    i = parse_aggregate_sql(
        "SELECT type, COUNT(*) AS __having_0 FROM snap_events "
        "GROUP BY type HAVING sum(value) > 1"
    )
    assert i.aggs["__having_0"] == ("count", "")
    assert i.aggs["__having_1"] == ("sum", "value")
    assert i.having == (("__having_1", ">", 1),)


@pytest.mark.parametrize(
    "sql",
    [
        # bare group column: WHERE semantics in disguise
        "SELECT type, COUNT(*) AS n FROM snap_t GROUP BY type "
        "HAVING type = 'click'",
        # unknown alias
        "SELECT type, COUNT(*) AS n FROM snap_t GROUP BY type "
        "HAVING m > 1",
        # OR between terms
        "SELECT type, COUNT(*) AS n FROM snap_t GROUP BY type "
        "HAVING n > 1 OR n < 0",
        # column-vs-column comparand
        "SELECT type, COUNT(*) AS n FROM snap_t GROUP BY type "
        "HAVING n > type",
        # literal on the left
        "SELECT type, COUNT(*) AS n FROM snap_t GROUP BY type "
        "HAVING 1 < n",
        # comparison operators stay HAVING-only: WHERE keeps its
        # eq/IN/BETWEEN vocabulary
        "SELECT COUNT(*) AS n FROM snap_t WHERE a <= 5",
    ],
)
def test_having_outside_grammar_returns_none(sql):
    assert parse_aggregate_sql(sql) is None


def test_count_col_extracts_and_needs_not_null_proof():
    i = parse_aggregate_sql(
        "SELECT type, COUNT(value) AS n FROM snap_t GROUP BY type"
    )
    assert i is not None and i.aggs == {"n": ("count", "value")}
    reason = semantic_gate(i, _schema(), False)
    assert reason and "COUNT(value)" in reason and "NOT-NULL" in reason
    assert semantic_gate(i, _schema(), False, {"value"}) is None


def test_having_on_estimate_tier_never_rewrites():
    i = parse_aggregate_sql(
        "SELECT type, approx_count_distinct(value) AS u FROM snap_t "
        "GROUP BY type HAVING u > 1"
    )
    assert i is not None
    for allow in (False, True):  # not even rewrite=approx
        reason = semantic_gate(i, _schema(), allow)
        assert reason and "row set" in reason


def test_having_alias_never_binds_to_hidden_measure():
    """r9 code review: a user-written __having_N identifier must not
    resolve against a parser-INVENTED hidden alias — the verbatim
    statement errors on the unknown column, so recognizing it would
    serve an answer for a failing statement."""
    assert parse_aggregate_sql(
        "SELECT type, COUNT(*) AS n FROM snap_events GROUP BY type "
        "HAVING sum(value) > 1 AND __having_0 < 5"
    ) is None


def test_single_table_alias_qualified_refs_resolve():
    """r10: the join grammar's qualifier machinery also serves the
    single-table form — ``FROM snap_t t ... t.col`` resolves against
    the one alias, while an unknown qualifier stays outside."""
    i = parse_aggregate_sql(
        "SELECT t.type, COUNT(*) AS n FROM snap_events t GROUP BY t.type"
    )
    assert i is not None
    assert i.table == "events"
    assert i.group_by == ("type",)
    assert i.joins == ()
    assert parse_aggregate_sql(
        "SELECT x.type, COUNT(*) AS n FROM snap_events t GROUP BY t.type"
    ) is None


def test_join_statement_extracts_both_sides():
    i = parse_aggregate_sql(
        "SELECT d.seg, f.reg, SUM(f.v) AS s FROM snap_f f "
        "JOIN snap_d d ON f.fk = d.pk "
        "WHERE f.reg = 'r1' AND d.seg IN ('a', 'b') "
        "GROUP BY d.seg, f.reg HAVING s > 10 ORDER BY seg, reg"
    )
    assert i is not None
    assert i.table == "f"
    assert len(i.joins) == 1
    j = i.joins[0]
    assert (j.dim, j.fk, j.pk) == ("d", "fk", "pk")
    assert i.group_by == ("reg",)
    assert j.group_by == ("seg",)
    assert i.filters == {"reg": ["r1"]}
    assert j.filters == {"seg": ["a", "b"]}
    assert i.select_order == ("seg", "reg", "s")
    assert i.having == (("s", ">", 10),)


def test_same_column_via_different_spellings_is_ineligible():
    """r10 code review: `t.x` and `x` resolve to ONE column; a dict
    overwrite would drop a predicate and serve a wrong row set, so
    resolved collisions abort recognition."""
    assert parse_aggregate_sql(
        "SELECT grp, COUNT(*) AS n FROM snap_t t "
        "WHERE t.x = 1 AND x = 2 GROUP BY grp"
    ) is None
    assert parse_aggregate_sql(
        "SELECT grp, COUNT(*) AS n FROM snap_t t "
        "WHERE t.x = 1 AND x BETWEEN 2 AND 3 GROUP BY grp"
    ) is None
