"""The MV rewrite served through /sql text (r8 VERDICT #2): a
recognized aggregate over a ``snap_`` view answers from the cheapest
fresh rollup — zero base-table files read — with the decision
audited in the response; anything unprovable runs verbatim. The
equivalence contract is pinned at both freshness modes, the NOT-NULL
constraint proof gates SUM/AVG, and the estimate tier stays behind
an explicit opt-in."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest

from ensembl_lakehouse_spark import ivm
from ensembl_lakehouse_spark import snapshots as SN
from ensembl_lakehouse_spark.query import QueryValidationError


@pytest.fixture()
def mv(engine, spark, tmp_path):
    """A registered snapshot table (NOT-NULL constraint on the
    measure) with a maintained (grp, reg) sum rollup and a per-grp
    HLL aux rollup."""
    src = str(tmp_path / "sqlmv_src")
    rows = [(i, f"g{i % 3}", f"r{i % 2}", i * 7, i % 5) for i in range(60)]
    SN.write_snapshot(
        src, spark.createDataFrame(rows, ["k", "grp", "reg", "val", "day"])
    )
    SN.add_constraint(spark, src, "val_nn", "val IS NOT NULL")
    rol = str(tmp_path / "sqlmv_rol")
    ivm.maintain_rollup(spark, src, rol, ["grp", "reg"], "val")
    hll = str(tmp_path / "sqlmv_hll")
    ivm.maintain_aux_rollup(spark, src, hll, ["grp"], "k", kind="hll")
    engine.register_snapshot_table("sqlmv", src)
    engine.register_rollup("sqlmv", "by_grp_reg", rol, ["grp", "reg"], "val")
    engine.register_rollup("sqlmv", "hll_k", hll, ["grp"], "k", kind="hll")
    return src, rol, hll


def _rows(engine, qid, n=50):
    engine.registry.wait(qid, timeout=120)
    assert engine.query_status(qid)["status"] == "SUCCEEDED"
    prev = engine.query_preview(qid, max_results=n)
    return [
        [c.get("VarCharValue") for c in r["Data"]] for r in prev["Rows"]
    ]


SQL = (
    "SELECT grp, COUNT(*) AS n, SUM(val) AS total, AVG(val) AS mean "
    "FROM snap_sqlmv GROUP BY grp ORDER BY grp"
)


def test_sql_aggregate_answers_from_rollup_and_matches_verbatim(engine, mv):
    src, rol, _ = mv
    resp = engine.submit_sql(SQL)
    assert resp["rewrite"]["eligible"] is True
    assert resp["rewrite"]["answered_by"] == "by_grp_reg"
    got = _rows(engine, resp["query_id"])
    off = engine.submit_sql(SQL, rewrite="off")
    assert "rewrite" not in off
    assert off["query_id"] != resp["query_id"]  # distinct cache identity
    assert got == _rows(engine, off["query_id"])


def test_rollup_answered_sql_reads_zero_base_files(engine, mv):
    src, rol, _ = mv
    rdf, audit = engine._try_sql_rewrite(SQL, {}, False, "strict")
    assert audit["answered_by"] == "by_grp_reg"
    files = rdf.inputFiles()
    assert files and all(rol in f for f in files)
    assert not any(src in f for f in files)


def test_strict_falls_back_to_verbatim_stale_ok_serves_pinned(
    engine, spark, mv
):
    """After the source advances past the rollup: strict runs the
    text verbatim (fresh data), stale_ok answers from the rollup and
    equals the verbatim run PINNED at the rollup's applied version."""
    src, rol, _ = mv
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(100, "g0", "r0", 700, 0)],
                              ["k", "grp", "reg", "val", "day"]),
        key="k",
    )
    strict = engine.submit_sql(SQL)
    assert strict["rewrite"]["eligible"] is True
    assert strict["rewrite"]["answered_by"] == "base"
    stale = engine.submit_sql(SQL, freshness="stale_ok")
    assert stale["rewrite"]["answered_by"] == "by_grp_reg"
    pinned = engine.submit_sql(SQL, snap_versions="sqlmv:0", rewrite="off")
    assert _rows(engine, stale["query_id"]) == _rows(
        engine, pinned["query_id"]
    )
    # and the strict answer reflects the NEW row
    fresh_rows = _rows(engine, strict["query_id"])
    assert fresh_rows != _rows(engine, stale["query_id"])


def test_snap_versions_pin_time_travels_the_rewrite(engine, spark, mv):
    """Pinning the view at the rollup's applied version makes the
    rollup STRICT-fresh for that pin even after the source advanced —
    the MV answers a time-traveled aggregate."""
    src, rol, _ = mv
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(101, "g1", "r1", 7000, 1)],
                              ["k", "grp", "reg", "val", "day"]),
        key="k",
    )
    resp = engine.submit_sql(SQL, snap_versions="sqlmv:0")
    assert resp["rewrite"]["answered_by"] == "by_grp_reg"
    assert resp["rewrite"]["source_version"] == 0
    verbatim = engine.submit_sql(SQL, snap_versions="sqlmv:0", rewrite="off")
    assert _rows(engine, resp["query_id"]) == _rows(
        engine, verbatim["query_id"]
    )


def test_filters_on_group_keys_rewrite_others_fall_back(engine, mv):
    keyed = engine.submit_sql(
        "SELECT grp, COUNT(*) AS n FROM snap_sqlmv "
        "WHERE reg = 'r0' GROUP BY grp"
    )
    assert keyed["rewrite"]["answered_by"] == "by_grp_reg"
    off = engine.submit_sql(
        "SELECT grp, COUNT(*) AS n FROM snap_sqlmv "
        "WHERE reg = 'r0' GROUP BY grp ORDER BY grp",
        rewrite="off",
    )
    ordered = engine.submit_sql(
        "SELECT grp, COUNT(*) AS n FROM snap_sqlmv "
        "WHERE reg = 'r0' GROUP BY grp ORDER BY grp"
    )
    assert _rows(engine, ordered["query_id"]) == _rows(
        engine, off["query_id"]
    )
    # a filter on a non-key column slices within groups — base
    non_key = engine.submit_sql(
        "SELECT grp, COUNT(*) AS n FROM snap_sqlmv "
        "WHERE day BETWEEN 1 AND 3 GROUP BY grp"
    )
    assert non_key["rewrite"]["eligible"] is True
    assert non_key["rewrite"]["answered_by"] == "base"
    assert any(
        "filter column" in s["reason"]
        for s in non_key["rewrite"]["skipped"]
        if s["rollup"] == "by_grp_reg"
    )


def test_sum_without_not_null_proof_falls_back(engine, spark, tmp_path):
    src = str(tmp_path / "nocon_src")
    SN.write_snapshot(
        src,
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], ["k", "g", "v"]),
    )
    rol = str(tmp_path / "nocon_rol")
    ivm.maintain_rollup(spark, src, rol, ["g"], "v")
    engine.register_snapshot_table("nocon", src)
    engine.register_rollup("nocon", "nocon_by_g", rol, ["g"], "v")
    resp = engine.submit_sql(
        "SELECT g, SUM(v) AS s FROM snap_nocon GROUP BY g"
    )
    assert resp["rewrite"]["eligible"] is False
    assert "NOT-NULL" in resp["rewrite"]["reason"]
    # count-only still rewrites: the gate is per-measure
    cnt = engine.submit_sql(
        "SELECT g, COUNT(*) AS n FROM snap_nocon GROUP BY g"
    )
    assert cnt["rewrite"]["answered_by"] == "nocon_by_g"


def test_estimate_tier_requires_opt_in_then_uses_hll_rollup(engine, mv):
    src, rol, hll = mv
    sql = (
        "SELECT grp, approx_count_distinct(k) AS u FROM snap_sqlmv "
        "GROUP BY grp ORDER BY grp"
    )
    default = engine.submit_sql(sql)
    assert default["rewrite"]["eligible"] is False
    assert "rewrite=approx" in default["rewrite"]["reason"]
    approx = engine.submit_sql(sql, rewrite="approx")
    assert approx["rewrite"]["answered_by"] == "hll_k"
    # 20 distinct k per grp — well inside sketch exact mode, so the
    # DataSketches estimate is the true count here (row 0 is the
    # header-as-row-0 preview shape)
    assert [r[1] for r in _rows(engine, approx["query_id"])[1:]] == [
        "20", "20", "20",
    ]


def test_metadata_tier_answers_global_count(engine, mv):
    resp = engine.submit_sql("SELECT COUNT(*) AS n FROM snap_sqlmv")
    assert resp["rewrite"]["answered_by"] == "metadata"
    assert _rows(engine, resp["query_id"]) == [["n"], ["60"]]


def test_order_by_desc_and_limit_apply_to_rewritten_answer(engine, mv):
    resp = engine.submit_sql(
        "SELECT grp, COUNT(*) AS n FROM snap_sqlmv GROUP BY grp "
        "ORDER BY grp DESC LIMIT 2"
    )
    # COUNT derives from every kind, so the 3-row per-grp HLL rollup
    # is cheaper than the 6-row (grp, reg) one — cheapest-wins
    assert resp["rewrite"]["answered_by"] == "hll_k"
    rows = _rows(engine, resp["query_id"])
    assert [r[0] for r in rows[1:]] == ["g2", "g1"]


def test_explain_sql_reports_the_rewrite_decision(engine, mv):
    src, rol, _ = mv
    payload = engine.explain_sql(SQL)
    assert payload["rewrite"]["answered_by"] == "by_grp_reg"
    assert rol in payload["plan"] and src not in payload["plan"]
    off = engine.explain_sql(SQL, "", "off")
    assert off["rewrite"] is None and src in off["plan"]
    # COUNT(k): k has no NOT-NULL proof, so the gate falls back
    # (COUNT(val) would now be ELIGIBLE — val_nn covers it, r9)
    inel = engine.explain_sql("SELECT COUNT(k) AS n FROM snap_sqlmv")
    assert inel["rewrite"]["eligible"] is False


def test_bad_rewrite_and_freshness_params_reject(engine, mv):
    with pytest.raises(QueryValidationError):
        engine.submit_sql(SQL, rewrite="maybe")
    with pytest.raises(QueryValidationError):
        engine.submit_sql(SQL, freshness="eventual")


def test_http_sql_rewrite_end_to_end(engine, mv):
    """The wire: /sql carries the audit, /sql/explain shows the
    decision and the rollup-only plan."""
    from ensembl_lakehouse_spark.api import ApiServer

    src, rol, _ = mv
    with ApiServer(engine) as srv:
        base = f"http://127.0.0.1:{srv.port}"
        q = urllib.parse.quote(SQL)
        resp = json.load(
            urllib.request.urlopen(f"{base}/sql?query={q}")
        )
        assert resp["rewrite"]["answered_by"] == "by_grp_reg"
        plan = json.load(
            urllib.request.urlopen(f"{base}/sql/explain?query={q}")
        )
        assert plan["rewrite"]["answered_by"] == "by_grp_reg"
        assert rol in plan["plan"] and src not in plan["plan"]
        off = json.load(
            urllib.request.urlopen(
                f"{base}/sql/explain?query={q}&rewrite=off"
            )
        )
        assert off["rewrite"] is None


# -- the constraint-stamp machinery the gate relies on ----------------

def test_rollback_refuses_to_cross_constraint_validation(spark, tmp_path):
    tdir = str(tmp_path / "con_rb")
    SN.write_snapshot(
        tdir, spark.createDataFrame([(1, None)], "k int, v int")
    )  # v0 has a NULL
    SN.write_snapshot(
        tdir, spark.createDataFrame([(1, 5)], "k int, v int")
    )  # v1 clean
    SN.add_constraint(spark, tdir, "v_nn", "v IS NOT NULL")
    rec = SN.constraint_records(tdir)["v_nn"]
    assert rec["since_version"] == 1
    with pytest.raises(SN.ConstraintViolation):
        SN.rollback(tdir, 0)
    SN.drop_constraint(tdir, "v_nn")
    assert SN.rollback(tdir, 0) == 2  # allowed once the proof is gone


def test_constraint_records_preserve_stamps_and_legacy_strings(
    spark, tmp_path
):
    import json as _json
    import os

    tdir = str(tmp_path / "con_legacy")
    SN.write_snapshot(tdir, spark.createDataFrame([(1,)], "k int"))
    # a legacy (pre-stamp) record written by an older build
    with open(os.path.join(tdir, "_constraints"), "w") as f:
        _json.dump({"old": "k > 0"}, f)
    SN.add_constraint(spark, tdir, "k_nn", "k IS NOT NULL")
    recs = SN.constraint_records(tdir)
    assert recs["old"] == {
        "expr": "k > 0", "since_version": None, "kind": "check",
    }
    assert recs["k_nn"]["since_version"] == 0
    # drop keeps the survivor's stamp intact
    SN.drop_constraint(tdir, "old")
    assert SN.constraint_records(tdir)["k_nn"]["since_version"] == 0
    assert SN.list_constraints(tdir) == {"k_nn": "k IS NOT NULL"}


# -- r9: HAVING + COUNT(col) through the rewrite -----------------------

HAVING_SQL = (
    "SELECT grp, reg, COUNT(*) AS n, SUM(val) AS total "
    "FROM snap_sqlmv GROUP BY grp, reg "
    "HAVING total > 2000 AND n >= 5 ORDER BY grp, reg"
)


def test_having_answers_from_rollup_and_matches_verbatim(engine, mv):
    src, rol, _ = mv
    resp = engine.submit_sql(HAVING_SQL)
    assert resp["rewrite"]["eligible"] is True
    assert resp["rewrite"]["answered_by"] == "by_grp_reg"
    got = _rows(engine, resp["query_id"])
    off = engine.submit_sql(HAVING_SQL, rewrite="off")
    assert got == _rows(engine, off["query_id"])
    assert len(got) > 1  # the filter actually selected a strict subset


def test_having_hidden_measure_reads_zero_base_files(engine, mv):
    """A HAVING over an UNSELECTED aggregate computes a hidden
    measure from the rollup and drops it before output — still zero
    base files, and the output schema matches the verbatim run."""
    src, rol, _ = mv
    sql = (
        "SELECT grp, reg, COUNT(*) AS n FROM snap_sqlmv "
        "GROUP BY grp, reg HAVING sum(val) > 2000 ORDER BY grp, reg"
    )
    rdf, audit = engine._try_sql_rewrite(sql, {}, False, "strict")
    assert audit["answered_by"] == "by_grp_reg"
    assert rdf.columns == ["grp", "reg", "n"]  # hidden alias dropped
    files = rdf.inputFiles()
    assert files and all(rol in f for f in files)
    resp = engine.submit_sql(sql)
    off = engine.submit_sql(sql, rewrite="off")
    assert _rows(engine, resp["query_id"]) == _rows(engine, off["query_id"])


def test_count_col_rewrites_only_with_not_null_proof(engine, mv):
    """COUNT(val) ≡ COUNT(*) under the val_nn constraint → rollup
    answer; COUNT(k) has no constraint → verbatim with the hint."""
    src, rol, _ = mv
    proven = (
        "SELECT grp, reg, COUNT(val) AS n FROM snap_sqlmv "
        "GROUP BY grp, reg ORDER BY grp, reg"
    )
    resp = engine.submit_sql(proven)
    assert resp["rewrite"]["answered_by"] == "by_grp_reg"
    off = engine.submit_sql(proven, rewrite="off")
    assert _rows(engine, resp["query_id"]) == _rows(engine, off["query_id"])
    unproven = (
        "SELECT grp, reg, COUNT(k) AS n FROM snap_sqlmv "
        "GROUP BY grp, reg"
    )
    resp = engine.submit_sql(unproven)
    assert resp["rewrite"]["eligible"] is False
    assert "k IS NOT NULL" in resp["rewrite"]["reason"]


def test_having_on_estimate_tier_falls_back_even_with_approx(engine, mv):
    sql = (
        "SELECT grp, approx_count_distinct(k) AS u FROM snap_sqlmv "
        "GROUP BY grp HAVING u > 1"
    )
    resp = engine.submit_sql(sql, rewrite="approx")
    assert resp["rewrite"]["eligible"] is False
    assert "row set" in resp["rewrite"]["reason"]
    # and the verbatim run still answers correctly (header row 0 +
    # the three groups)
    assert len(_rows(engine, resp["query_id"])) == 4


def test_explain_shows_having_rewrite_decision(engine, mv):
    payload = engine.explain_sql(HAVING_SQL)
    assert payload["rewrite"]["answered_by"] == "by_grp_reg"
    # the rewritten plan filters the rollup, not the base table
    assert "sqlmv_rol" in str(payload.get("plan", payload))


def test_stale_rollup_never_serves_proof_dependent_measures(
    engine, spark, tmp_path
):
    """r9 second review: the NOT-NULL proof holds for versions >=
    since_version ONLY — a stale_ok answer from a rollup maintained
    BEFORE the constraint's validation scan represents data the
    proof never covered (NULLs the rollup coalesced to 0). The proof
    floor must skip that rollup; measures without a proof dependency
    still serve from it."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    src = str(tmp_path / "stale_src")
    schema = StructType([
        StructField("k", LongType()),
        StructField("grp", StringType()),
        StructField("val", LongType()),
    ])
    # v0: includes NULL val rows; rollup maintained against it
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(0, "g0", 5), (1, "g0", None), (2, "g1", 7)], schema
        ),
    )
    rol = str(tmp_path / "stale_rol")
    ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    # v1: NULLs removed, constraint validated (since_version = 1)
    SN.delete_snapshot(spark, src, "val IS NULL")
    SN.add_constraint(spark, src, "val_nn", "val IS NOT NULL")
    engine.register_snapshot_table("stl", src)
    engine.register_rollup("stl", "stl_by_grp", rol, ["grp"], "val")

    # proof-dependent measure: stale rollup refused, verbatim answer
    sql = "SELECT grp, COUNT(val) AS nv FROM snap_stl GROUP BY grp ORDER BY grp"
    resp = engine.submit_sql(sql, freshness="stale_ok")
    audit = resp["rewrite"]
    assert audit["eligible"] is True
    assert audit["answered_by"] == "base"
    assert any(
        "NOT-NULL proof" in s["reason"] for s in audit["skipped"]
    ), audit["skipped"]
    got = _rows(engine, resp["query_id"])
    assert got[1:] == [["g0", "1"], ["g1", "1"]]  # post-delete truth

    # no proof dependency: the same stale rollup still serves
    resp2 = engine.submit_sql(
        "SELECT grp, COUNT(*) AS n FROM snap_stl GROUP BY grp ORDER BY grp",
        freshness="stale_ok",
    )
    assert resp2["rewrite"]["answered_by"] == "stl_by_grp"

    # and the structured surface applies the same floor
    resp3 = engine.submit_table_aggregate(
        "stl", "grp", "nv=count:val", freshness="stale_ok"
    )
    assert resp3["answered_by"] == "base"
    assert any(
        "NOT-NULL proof" in s["reason"] for s in resp3["skipped"]
    ), resp3["skipped"]


def test_chain_lagged_hierarchy_never_serves_proof_dependent_measures(
    engine, spark, tmp_path
):
    """r9 ADVICE: a hierarchical chain whose ROOT is fully applied to
    the pin but whose CHILD hop lags derives its content from an
    older parent state — a base version that can PREDATE the NOT-NULL
    proof's validation scan even though root-last postdates it.
    represents must be the ledger-walked derivation version, not
    root-last, so the proof floor skips the lagging child; the fresh
    parent (or base) answers instead."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    src = str(tmp_path / "hstale_src")
    schema = StructType([
        StructField("k", LongType()),
        StructField("grp", StringType()),
        StructField("reg", StringType()),
        StructField("val", LongType()),
    ])
    # v0: NULL vals present; parent AND child maintained against it
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [
                (0, "g0", "r0", 5),
                (1, "g0", "r1", None),
                (2, "g1", "r0", 7),
                (3, "g1", "r1", None),
            ],
            schema,
        ),
    )
    parent = str(tmp_path / "hstale_parent")
    child = str(tmp_path / "hstale_child")
    ivm.maintain_rollup(spark, src, parent, ["grp", "reg"], "val")
    ivm.maintain_rollup_from_rollup(spark, parent, child, {"grp": "grp"})
    pre_proof_base = ivm._applied_versions(parent)[-1]

    # NULLs removed, constraint validated, PARENT re-applied to the
    # pin — the child hop is deliberately left lagging
    SN.delete_snapshot(spark, src, "val IS NULL")
    SN.add_constraint(spark, src, "val_nn", "val IS NOT NULL")
    ivm.maintain_rollup(spark, src, parent, ["grp", "reg"], "val")

    engine.register_snapshot_table("hstl", src)
    engine.register_rollup(
        "hstl", "hstl_parent", parent, ["grp", "reg"], "val"
    )
    engine.register_rollup(
        "hstl", "hstl_child", child, ["grp"], "val", parent_dir=parent
    )

    # the child is the CHEAPEST eligible rollup by rowcount, so only
    # the proof floor keeps it from serving the proof-dependent SUM
    sql = (
        "SELECT grp, SUM(val) AS sv FROM snap_hstl "
        "GROUP BY grp ORDER BY grp"
    )
    resp = engine.submit_sql(sql, freshness="stale_ok")
    audit = resp["rewrite"]
    assert audit["eligible"] is True
    assert audit["answered_by"] == "hstl_parent"
    assert any(
        s["rollup"] == "hstl_child" and "NOT-NULL proof" in s["reason"]
        for s in audit["skipped"]
    ), audit["skipped"]
    got = _rows(engine, resp["query_id"])
    off = engine.submit_sql(sql, rewrite="off", freshness="stale_ok")
    assert got == _rows(engine, off["query_id"])
    assert got[1:] == [["g0", "5"], ["g1", "7"]]

    # COUNT(*) has no proof dependency: the lagging child still
    # serves under stale_ok (older-but-sound data, by contract)
    resp2 = engine.submit_sql(
        "SELECT grp, COUNT(*) AS n FROM snap_hstl GROUP BY grp",
        freshness="stale_ok",
    )
    assert resp2["rewrite"]["answered_by"] == "hstl_child"

    # the listing reports the WALKED derivation version for the
    # lagging child — the pre-proof base version, not root-last
    listing = {r["rollup"]: r for r in engine.table_rollups_report("hstl")}
    assert listing["hstl_parent"]["freshness"] == "fresh"
    assert listing["hstl_child"]["freshness"] == "stale"
    assert (
        listing["hstl_child"]["represents_source_version"]
        == pre_proof_base
    )
    assert (
        listing["hstl_parent"]["represents_source_version"]
        == listing["hstl_parent"]["pinned_source_version"]
    )


def test_count_col_case_insensitive_on_aggregate_surface(engine, mv):
    """Spark resolves identifiers case-insensitively and the /sql
    lexer lowercases; /aggregate's COUNT(col) proof lookup must
    too (r9 second review)."""
    resp = engine.submit_table_aggregate("sqlmv", "grp", "nv=count:VAL")
    # count derives from ANY rollup kind — the cheapest (per-grp)
    # answers; the point is the proof lookup matched despite the case
    assert resp["answered_by"] in ("hll_k", "by_grp_reg")


def test_aggs_alias_must_be_plain_identifier(engine, mv):
    with pytest.raises(QueryValidationError, match="plain identifier"):
        engine.submit_table_aggregate("sqlmv", "grp", "a.b=count")


# -- r10: dimension-join aggregates through the rewrite ----------------


@pytest.fixture()
def starmv(engine, spark, tmp_path):
    """A fact with an fk-keyed sum rollup + a dim whose key carries a
    write-enforced UNIQUE proof — the star shape the join grammar
    serves."""
    fact = str(tmp_path / "star_fact")
    # fks 0..6 exist in the dim; every 11th row points at fk 93 —
    # present in the rollup, dropped by the inner join on both paths
    # (NULL fks cannot arise: maintain_rollup refuses NULL group keys
    # by the IVM equi-join contract)
    rows = [
        (i, (i % 7) if i % 11 else 93, "F" if i % 3 else "O",
         (i * 13) % 997)
        for i in range(300)
    ]
    SN.write_snapshot(
        fact,
        spark.createDataFrame(
            rows, "o_key int, o_custkey int, o_status string, cents int"
        ),
    )
    SN.add_constraint(spark, fact, "cents_nn", "cents IS NOT NULL")
    dim = str(tmp_path / "star_dim")
    SN.write_snapshot(
        dim,
        spark.createDataFrame(
            [(k, f"seg{k % 3}", k % 2) for k in range(7)],
            "c_custkey int, mktseg string, active int",
        ),
    )
    SN.add_unique_constraint(spark, dim, "ck_uq", "c_custkey")
    rol = str(tmp_path / "star_rol")
    ivm.maintain_rollup(spark, fact, rol, ["o_custkey"], "cents")
    engine.register_snapshot_table("jord", fact)
    engine.register_snapshot_table("jcust", dim)
    engine.register_rollup("jord", "jord_by_ck", rol, ["o_custkey"], "cents")
    return fact, dim, rol


JOIN_SQL = (
    "SELECT c.mktseg, SUM(o.cents) AS s, COUNT(*) AS n, "
    "AVG(o.cents) AS m FROM snap_jord o JOIN snap_jcust c "
    "ON o.o_custkey = c.c_custkey GROUP BY c.mktseg ORDER BY mktseg"
)


def test_join_aggregate_answers_from_rollup_and_matches_verbatim(
    engine, starmv
):
    fact, dim, rol = starmv
    resp = engine.submit_sql(JOIN_SQL)
    audit = resp["rewrite"]
    assert audit["eligible"] is True
    assert audit["answered_by"] == "jord_by_ck"
    assert audit["join"][0]["on"] == ["o_custkey", "c_custkey"]
    got = _rows(engine, resp["query_id"])
    off = engine.submit_sql(JOIN_SQL, rewrite="off")
    assert got == _rows(engine, off["query_id"])
    assert len(got) == 4  # header + seg0..seg2


def test_join_rewrite_cache_key_tracks_dim_versions(engine, spark, starmv):
    """A rewritten join answer is cached under every side it read: a
    dim commit misses the pre-commit entry, and a pin on the old dim
    version neither shares the live entry nor reads the new rows."""
    fact, dim, rol = starmv
    pre = engine.submit_sql(JOIN_SQL)
    pre_rows = _rows(engine, pre["query_id"])
    SN.merge_snapshot(
        spark, dim,
        spark.createDataFrame(
            [(k, "segX", k % 2) for k in range(7)],
            "c_custkey int, mktseg string, active int",
        ),
        key="c_custkey",
    )
    live = engine.submit_sql(JOIN_SQL)
    assert live["rewrite"]["answered_by"] == "jord_by_ck"
    assert live["query_id"] != pre["query_id"]
    off = engine.submit_sql(JOIN_SQL, rewrite="off")
    live_rows = _rows(engine, live["query_id"])
    assert live_rows == _rows(engine, off["query_id"])
    assert [r[0] for r in live_rows[1:]] == ["segX"]
    pinned = engine.submit_sql(JOIN_SQL, snap_versions="jcust:0")
    assert pinned["rewrite"]["answered_by"] == "jord_by_ck"
    assert pinned["query_id"] != live["query_id"]
    assert _rows(engine, pinned["query_id"]) == pre_rows


def test_join_rewrite_reads_zero_fact_files(engine, starmv):
    fact, dim, rol = starmv
    rdf, audit = engine._try_sql_rewrite(JOIN_SQL, {}, False, "strict")
    assert audit["answered_by"] == "jord_by_ck"
    files = rdf.inputFiles()
    assert files
    assert not any(fact in f for f in files), files
    assert any(rol in f for f in files)
    assert any(dim in f for f in files)


def test_join_rewrite_stale_ok_serves_pinned_fact(engine, spark, starmv):
    """After the fact advances past the rollup: strict falls back to
    verbatim; stale_ok answers from the rollup joined to the pinned
    dim and equals the verbatim run pinned at the rollup's applied
    fact version."""
    fact, dim, rol = starmv
    SN.merge_snapshot(
        spark, fact,
        spark.createDataFrame(
            [(9999, 1, "F", 500)],
            "o_key int, o_custkey int, o_status string, cents int",
        ),
        key="o_key",
    )
    strict = engine.submit_sql(JOIN_SQL)
    assert strict["rewrite"]["eligible"] is True
    assert strict["rewrite"]["answered_by"] == "base"
    stale = engine.submit_sql(JOIN_SQL, freshness="stale_ok")
    assert stale["rewrite"]["answered_by"] == "jord_by_ck"
    pinned = engine.submit_sql(
        JOIN_SQL, snap_versions="jord:0", rewrite="off"
    )
    assert _rows(engine, stale["query_id"]) == _rows(
        engine, pinned["query_id"]
    )
    assert _rows(engine, strict["query_id"]) != _rows(
        engine, stale["query_id"]
    )


def test_join_rewrite_dim_filters_and_fact_filters(engine, starmv):
    """Dim predicates run at full dim fidelity (any column); fact
    predicates stay whole-group selections on the rollup keys."""
    fact, dim, rol = starmv
    sql = (
        "SELECT c.mktseg, COUNT(*) AS n FROM snap_jord o "
        "JOIN snap_jcust c ON o.o_custkey = c.c_custkey "
        "WHERE c.active = 1 AND o.o_custkey IN (1, 3, 5) "
        "GROUP BY c.mktseg ORDER BY mktseg"
    )
    resp = engine.submit_sql(sql)
    assert resp["rewrite"]["answered_by"] == "jord_by_ck"
    off = engine.submit_sql(sql, rewrite="off")
    assert _rows(engine, resp["query_id"]) == _rows(engine, off["query_id"])
    # a fact filter on a NON-key column slices within fk groups — base
    sliced = engine.submit_sql(
        "SELECT c.mktseg, COUNT(*) AS n FROM snap_jord o "
        "JOIN snap_jcust c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_status = 'F' GROUP BY c.mktseg"
    )
    assert sliced["rewrite"]["eligible"] is True
    assert sliced["rewrite"]["answered_by"] == "base"


def test_join_rewrite_requires_unique_proof(engine, spark, tmp_path):
    fact = str(tmp_path / "nuq_fact")
    SN.write_snapshot(
        fact,
        spark.createDataFrame(
            [(1, 1, 10), (2, 2, 20)], "k int, fk int, v int"
        ),
    )
    SN.add_constraint(spark, fact, "v_nn", "v IS NOT NULL")
    dim = str(tmp_path / "nuq_dim")
    SN.write_snapshot(
        dim,
        spark.createDataFrame([(1, "a"), (2, "b")], "fk int, seg string"),
    )
    rol = str(tmp_path / "nuq_rol")
    ivm.maintain_rollup(spark, fact, rol, ["fk"], "v")
    engine.register_snapshot_table("nuqf", fact)
    engine.register_snapshot_table("nuqd", dim)
    engine.register_rollup("nuqf", "nuqf_by_fk", rol, ["fk"], "v")
    sql = (
        "SELECT d.seg, SUM(f.v) AS s FROM snap_nuqf f "
        "JOIN snap_nuqd d ON f.fk = d.fk GROUP BY d.seg"
    )
    resp = engine.submit_sql(sql)
    assert resp["rewrite"]["eligible"] is False
    assert "UNIQUE" in resp["rewrite"]["reason"]
    # the verbatim run still answers
    assert len(_rows(engine, resp["query_id"])) == 3
    # ... and adding the proof flips it to the rollup
    SN.add_unique_constraint(spark, dim, "fk_uq", "fk")
    resp2 = engine.submit_sql(sql)
    assert resp2["rewrite"]["answered_by"] == "nuqf_by_fk"
    assert _rows(engine, resp2["query_id"]) == _rows(
        engine, resp["query_id"]
    )


def test_join_rewrite_unmatched_fks_drop_on_both_paths(engine, starmv):
    """The fixture holds fact rows whose fk (93) matches no dim row:
    the INNER join drops them identically on the rollup path (the
    partial group simply finds no pk) — pin that those rows are
    really present and really excluded."""
    fact, dim, rol = starmv
    resp = engine.submit_sql(
        "SELECT c.mktseg, COUNT(*) AS n FROM snap_jord o "
        "JOIN snap_jcust c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.mktseg ORDER BY mktseg"
    )
    assert resp["rewrite"]["answered_by"] == "jord_by_ck"
    joined_total = sum(
        int(r[1]) for r in _rows(engine, resp["query_id"])[1:]
    )
    all_rows = engine.submit_sql(
        "SELECT COUNT(*) AS n FROM snap_jord", rewrite="off"
    )
    assert joined_total < int(_rows(engine, all_rows["query_id"])[1][0])


def test_join_grammar_strictness(engine, starmv):
    """LEFT JOIN, unqualified refs, dim-side aggregates, and
    estimate measures all fall back to verbatim."""
    cases = [
        ("SELECT c.mktseg, COUNT(*) AS n FROM snap_jord o LEFT JOIN "
         "snap_jcust c ON o.o_custkey = c.c_custkey GROUP BY c.mktseg",
         "grammar"),
        ("SELECT mktseg, COUNT(*) AS n FROM snap_jord o JOIN "
         "snap_jcust c ON o.o_custkey = c.c_custkey GROUP BY mktseg",
         "grammar"),
        ("SELECT c.mktseg, SUM(c.active) AS s FROM snap_jord o JOIN "
         "snap_jcust c ON o.o_custkey = c.c_custkey GROUP BY c.mktseg",
         "grammar"),
        ("SELECT c.mktseg, approx_count_distinct(o.o_key) AS u FROM "
         "snap_jord o JOIN snap_jcust c ON o.o_custkey = c.c_custkey "
         "GROUP BY c.mktseg",
         "exact-tier"),
    ]
    for sql, why in cases:
        resp = engine.submit_sql(sql, rewrite="approx")
        assert resp["rewrite"]["eligible"] is False, sql
        if why == "exact-tier":
            assert "exact-tier" in resp["rewrite"]["reason"]


# -- r10: the quantile (DDSketch) estimate tier ------------------------


@pytest.fixture()
def qmv(engine, spark, tmp_path):
    src = str(tmp_path / "qmv_src")
    rows = [(i, f"g{i % 3}", (i * 37) % 5000) for i in range(300)]
    SN.write_snapshot(
        src, spark.createDataFrame(rows, "k int, grp string, v int")
    )
    rol = str(tmp_path / "qmv_rol")
    ivm.maintain_aux_rollup(spark, src, rol, ["grp"], "v", kind="quantile")
    engine.register_snapshot_table("qmv", src)
    engine.register_rollup("qmv", "qmv_by_grp", rol, ["grp"], "v",
                           kind="quantile")
    return src, rol


def test_sql_percentile_needs_approx_then_serves_from_sketch(engine, qmv):
    """approx_percentile in /sql is estimate-tier: the rollup's
    DDSketch is a different estimator than Spark's native
    approx_percentile, so the rewrite needs the explicit opt-in —
    the same gate as the hll tier."""
    sql = (
        "SELECT grp, approx_percentile(v, 0.5) AS p50 FROM snap_qmv "
        "GROUP BY grp ORDER BY grp"
    )
    default = engine.submit_sql(sql)
    assert default["rewrite"]["eligible"] is False
    assert "rewrite=approx" in default["rewrite"]["reason"]
    approx = engine.submit_sql(sql, rewrite="approx")
    assert approx["rewrite"]["answered_by"] == "qmv_by_grp"
    # within the documented 0.99 % relative error of the exact
    # median (the verbatim run uses a different estimator, so the
    # check is against truth, not against rewrite=off)
    import collections
    import math as _m

    rows = _rows(engine, approx["query_id"])[1:]
    truth = collections.defaultdict(list)
    src, _ = qmv
    for r in SN.read_snapshot(engine.spark, src).collect():
        truth[r.grp].append(r.v)
    for grp, p50 in rows:
        s = sorted(truth[grp])
        true = s[max(1, _m.ceil(0.5 * len(s))) - 1]
        assert abs(float(p50) - true) <= 0.0099 * abs(true) + 1e-9


def test_aggregate_percentile_stale_ok_equals_pinned_base(
    engine, spark, qmv
):
    """/aggregate's approx_percentile is explicitly approximate (the
    name says so) — no opt-in needed; after the source advances,
    strict falls back to the BASE sketch (same estimator, so the
    stale_ok rollup answer BIT-equals the strict answer pinned at
    the rollup's applied version)."""
    src, rol = qmv
    before = engine.submit_table_aggregate(
        "qmv", "grp", "p90=approx_percentile:v:0.9,n=count"
    )
    assert before["answered_by"] == "qmv_by_grp"
    pinned_rows = _rows(engine, before["query_id"])
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(9000, "g0", 99999)],
                              "k int, grp string, v int"),
        key="k",
    )
    strict = engine.submit_table_aggregate(
        "qmv", "grp", "p90=approx_percentile:v:0.9,n=count"
    )
    assert strict["answered_by"] == "base"
    stale = engine.submit_table_aggregate(
        "qmv", "grp", "p90=approx_percentile:v:0.9,n=count",
        freshness="stale_ok",
    )
    assert stale["answered_by"] == "qmv_by_grp"
    assert _rows(engine, stale["query_id"]) == pinned_rows
    assert _rows(engine, strict["query_id"]) != pinned_rows
    # HAVING on the estimate output is refused (row set selection)
    with pytest.raises(QueryValidationError, match="estimate-tier"):
        engine.submit_table_aggregate(
            "qmv", "grp", "p90=approx_percentile:v:0.9",
            having="p90:gt:100",
        )


def test_aggregate_mixed_percentile_and_exact_measures(engine, spark, qmv):
    """r10 code review: a percentile mixed with sum/min/max/avg in
    one /aggregate request is a valid shape the params doc
    advertises — no rollup kind derives the mix, so the BASE path
    must serve all measures side by side (it crashed with an
    IndexError before)."""
    src, rol = qmv
    resp = engine.submit_table_aggregate(
        "qmv", "grp",
        "p50=approx_percentile:v:0.5,total=sum:v,hi=max:v,n=count",
    )
    assert resp["answered_by"] == "base"
    rows = _rows(engine, resp["query_id"])
    assert rows[0] == ["grp", "p50", "total", "hi", "n"]
    truth = engine.submit_sql(
        "SELECT grp, SUM(v) AS total, MAX(v) AS hi, COUNT(*) AS n "
        "FROM snap_qmv GROUP BY grp ORDER BY grp", rewrite="off",
    )
    want = {r[0]: r[1:] for r in _rows(engine, truth["query_id"])[1:]}
    for grp, p50, total, hi, n in rows[1:]:
        assert [total, hi, n] == list(want[grp])
        assert p50 != ""  # the sketch estimate rides alongside


def test_join_rewrite_grouping_by_the_join_key(engine, starmv):
    """r10 code review: GROUP BY the fk itself is a legal star shape
    (per-customer totals labeled by a dim attribute) — the partial
    grouping must not carry the key twice."""
    fact, dim, rol = starmv
    sql = (
        "SELECT o.o_custkey, c.mktseg, SUM(o.cents) AS s "
        "FROM snap_jord o JOIN snap_jcust c "
        "ON o.o_custkey = c.c_custkey "
        "GROUP BY o.o_custkey, c.mktseg ORDER BY o_custkey"
    )
    resp = engine.submit_sql(sql)
    assert resp["rewrite"]["eligible"] is True
    assert resp["rewrite"]["answered_by"] == "jord_by_ck"
    off = engine.submit_sql(sql, rewrite="off")
    assert _rows(engine, resp["query_id"]) == _rows(
        engine, off["query_id"]
    )


def test_multi_dim_star_aggregate_answers_from_rollup(
    engine, spark, tmp_path
):
    """r10 second pass: a TWO-dim star (fact JOIN customer-dim JOIN
    part-dim) answers from a (fk1, fk2)-keyed rollup joined to both
    pinned dims — zero fact files — and equals the verbatim run at
    both freshness modes."""
    fact = str(tmp_path / "star2_fact")
    rows = [
        (i, i % 5, i % 4, (i * 13) % 500) for i in range(400)
    ]
    SN.write_snapshot(
        fact,
        spark.createDataFrame(
            rows, "k int, ck int, pk2 int, cents int"
        ),
    )
    SN.add_constraint(spark, fact, "cents_nn", "cents IS NOT NULL")
    dcust = str(tmp_path / "star2_cust")
    SN.write_snapshot(
        dcust,
        spark.createDataFrame(
            [(c, f"seg{c % 2}") for c in range(5)], "ck int, seg string"
        ),
    )
    SN.add_unique_constraint(spark, dcust, "ck_uq", "ck")
    dpart = str(tmp_path / "star2_part")
    SN.write_snapshot(
        dpart,
        spark.createDataFrame(
            [(p, f"brand{p % 2}") for p in range(4)],
            "pk2 int, brand string",
        ),
    )
    SN.add_unique_constraint(spark, dpart, "pk_uq", "pk2")
    rol = str(tmp_path / "star2_rol")
    ivm.maintain_rollup(spark, fact, rol, ["ck", "pk2"], "cents")
    engine.register_snapshot_table("s2f", fact)
    engine.register_snapshot_table("s2c", dcust)
    engine.register_snapshot_table("s2p", dpart)
    engine.register_rollup("s2f", "s2f_by_keys", rol, ["ck", "pk2"],
                           "cents")
    sql = (
        "SELECT c.seg, p.brand, SUM(f.cents) AS s, COUNT(*) AS n, "
        "AVG(f.cents) AS m FROM snap_s2f f "
        "JOIN snap_s2c c ON f.ck = c.ck "
        "JOIN snap_s2p p ON f.pk2 = p.pk2 "
        "GROUP BY c.seg, p.brand ORDER BY seg, brand"
    )
    resp = engine.submit_sql(sql)
    audit = resp["rewrite"]
    assert audit["eligible"] is True, audit
    assert audit["answered_by"] == "s2f_by_keys"
    assert [j["on"] for j in audit["join"]] == [
        ["ck", "ck"], ["pk2", "pk2"],
    ]
    got = _rows(engine, resp["query_id"])
    off = engine.submit_sql(sql, rewrite="off")
    assert got == _rows(engine, off["query_id"])
    assert len(got) == 5  # header + 2 segs × 2 brands

    # zero fact files on the rewritten plan
    rdf, _ = engine._try_sql_rewrite(sql, {}, False, "strict")
    files = rdf.inputFiles()
    assert files and not any(fact in f for f in files)
    assert any(dcust in f for f in files) and any(
        dpart in f for f in files
    )

    # dim filters on both spokes; one missing UNIQUE proof falls back
    filt = engine.submit_sql(
        "SELECT c.seg, COUNT(*) AS n FROM snap_s2f f "
        "JOIN snap_s2c c ON f.ck = c.ck "
        "JOIN snap_s2p p ON f.pk2 = p.pk2 "
        "WHERE p.brand = 'brand1' AND c.seg IN ('seg0') "
        "GROUP BY c.seg"
    )
    assert filt["rewrite"]["answered_by"] == "s2f_by_keys"
    filt_off = engine.submit_sql(
        "SELECT c.seg, COUNT(*) AS n FROM snap_s2f f "
        "JOIN snap_s2c c ON f.ck = c.ck "
        "JOIN snap_s2p p ON f.pk2 = p.pk2 "
        "WHERE p.brand = 'brand1' AND c.seg IN ('seg0') "
        "GROUP BY c.seg",
        rewrite="off",
    )
    assert _rows(engine, filt["query_id"]) == _rows(
        engine, filt_off["query_id"]
    )


def test_mixed_percentile_keeps_null_groups_and_reserved_aliases(
    engine, spark, tmp_path
):
    """r10 second review: (a) NULL group keys must keep their exact
    measures through the sketch path's join-back (null-safe
    equality); (b) a user measure aliased 'n_rows' must not collide
    with the sketch state's internal count; (c) __-prefixed aliases
    are refused up front."""
    src = str(tmp_path / "nullq_src")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(1, None, 5), (2, None, 7), (3, "g1", 10)],
            "k int, grp string, v int",
        ),
    )
    engine.register_snapshot_table("nullq", src)
    resp = engine.submit_table_aggregate(
        "nullq", "grp",
        "p50=approx_percentile:v:0.5,total=sum:v,n_rows=max:v",
    )
    rows = {r[0]: r[1:] for r in _rows(engine, resp["query_id"])[1:]}
    # NULL group key renders as a missing VarCharValue (None);
    # truth: NULL group sums 12, max 7; g1 sums 10
    assert rows[None][1:] == ["12", "7"], rows
    assert rows["g1"][1:] == ["10", "10"]
    with pytest.raises(QueryValidationError, match="reserved"):
        engine.submit_table_aggregate(
            "nullq", "grp", "__q_x=count"
        )


def test_join_rewrite_group_by_dim_pk_same_spelling(engine, spark, tmp_path):
    """r10 second review: GROUP BY the dim's pk when it shares the
    fk's spelling (ON f.ck = c.ck GROUP BY c.ck) is a supported
    shape — the first-pass ambiguity rule must not regress it back
    to the base scan."""
    fact = str(tmp_path / "pkfk_fact")
    SN.write_snapshot(
        fact,
        spark.createDataFrame(
            [(i, i % 3, i * 10) for i in range(30)], "k int, ck int, v int"
        ),
    )
    SN.add_constraint(spark, fact, "v_nn", "v IS NOT NULL")
    dim = str(tmp_path / "pkfk_dim")
    SN.write_snapshot(
        dim,
        spark.createDataFrame(
            [(c, f"s{c}") for c in range(3)], "ck int, seg string"
        ),
    )
    SN.add_unique_constraint(spark, dim, "ck_uq", "ck")
    rol = str(tmp_path / "pkfk_rol")
    ivm.maintain_rollup(spark, fact, rol, ["ck"], "v")
    engine.register_snapshot_table("pf", fact)
    engine.register_snapshot_table("pd", dim)
    engine.register_rollup("pf", "pf_by_ck", rol, ["ck"], "v")
    sql = (
        "SELECT c.ck, SUM(f.v) AS s FROM snap_pf f "
        "JOIN snap_pd c ON f.ck = c.ck GROUP BY c.ck ORDER BY ck"
    )
    resp = engine.submit_sql(sql)
    assert resp["rewrite"]["eligible"] is True, resp["rewrite"]
    assert resp["rewrite"]["answered_by"] == "pf_by_ck"
    off = engine.submit_sql(sql, rewrite="off")
    assert _rows(engine, resp["query_id"]) == _rows(
        engine, off["query_id"]
    )

# ---- round 11: time-bucketed GROUP BY (r10 VERDICT #2) ----


@pytest.fixture()
def tmv(engine, spark, tmp_path):
    """An event-style snapshot table (timestamp column, NOT-NULL
    measure) with a maintained DAILY bucket rollup — no materialized
    day column anywhere; the rollup key IS date_trunc('day', ts)."""
    import datetime as dt

    src = str(tmp_path / "tmv_src")
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 15, i % 24), f"t{i % 3}", i * 3)
        for i in range(120)
    ]
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            rows, "k int, ts timestamp, typ string, val int"
        ),
    )
    SN.add_constraint(spark, src, "val_nn", "val IS NOT NULL")
    rol = str(tmp_path / "tmv_rol")
    ivm.maintain_rollup(
        spark, src, rol, ["day", "typ"], "val",
        key_exprs={"day": "date_trunc('day', ts)"},
    )
    engine.register_snapshot_table("tev", src)
    engine.register_rollup(
        "tev", "daily", rol, ["day", "typ"], "val",
        group_exprs={"day": "date_trunc('day', ts)"},
    )
    return src, rol


TSQL = (
    "SELECT date_trunc('day', ts) AS d, COUNT(*) AS n, "
    "SUM(val) AS total, AVG(val) AS mean "
    "FROM snap_tev GROUP BY date_trunc('day', ts) ORDER BY d"
)


def test_date_trunc_group_by_answers_from_rollup_zero_base_files(
    engine, tmv
):
    """The r10 VERDICT #2 headline: the most common dashboard
    aggregate — GROUP BY date_trunc('day', ts) — answers from the
    daily bucket rollup with zero base files read, and equals the
    verbatim run."""
    src, rol = tmv
    rdf, audit = engine._try_sql_rewrite(TSQL, {}, False, "strict")
    assert audit["answered_by"] == "daily"
    files = rdf.inputFiles()
    assert files and all(rol in f for f in files)
    assert not any(src in f for f in files)
    on = engine.submit_sql(TSQL)
    assert on["rewrite"]["answered_by"] == "daily"
    off = engine.submit_sql(TSQL, rewrite="off")
    assert _rows(engine, on["query_id"]) == _rows(engine, off["query_id"])


def test_bucket_group_by_ordinal_and_mixed_keys(engine, tmv):
    """GROUP BY 1, 2 (Spark's groupByOrdinal) and a bucket mixed
    with a plain group column both serve and match verbatim."""
    sql = (
        "SELECT date_trunc('day', ts) AS d, typ, COUNT(*) AS n "
        "FROM snap_tev GROUP BY 1, 2 ORDER BY d, typ"
    )
    on = engine.submit_sql(sql)
    assert on["rewrite"]["answered_by"] == "daily"
    off = engine.submit_sql(sql, rewrite="off")
    assert _rows(engine, on["query_id"]) == _rows(engine, off["query_id"])


def test_swapped_bucket_aliases_do_not_clobber(engine, spark, tmp_path):
    """r11 code review: a statement whose bucket ALIASES are the
    other bucket's STORED column names (SELECT month AS d, day AS m
    over a rollup storing d=day, m=month) must keep each alias bound
    to its own expression — the sequential-withColumn shape
    overwrote 'd' with month values before 'm' read it, silently
    grouping by (month, month)."""
    import datetime as dt

    src = str(tmp_path / "swap_src")
    rows = [
        (i, dt.datetime(2024, 1 + i % 3, 1 + i % 20, i % 24), i * 3)
        for i in range(120)
    ]
    SN.write_snapshot(
        src,
        spark.createDataFrame(rows, "k int, ts timestamp, val int"),
    )
    SN.add_constraint(spark, src, "val_nn", "val IS NOT NULL")
    rol = str(tmp_path / "swap_rol")
    ivm.maintain_rollup(
        spark, src, rol, ["d", "m"], "val",
        key_exprs={
            "d": "date_trunc('day', ts)",
            "m": "date_trunc('month', ts)",
        },
    )
    engine.register_snapshot_table("swev", src)
    engine.register_rollup(
        "swev", "swapped", rol, ["d", "m"], "val",
        group_exprs={
            "d": "date_trunc('day', ts)",
            "m": "date_trunc('month', ts)",
        },
    )
    sql = (
        "SELECT date_trunc('month', ts) AS d, "
        "date_trunc('day', ts) AS m, COUNT(*) AS n "
        "FROM snap_swev GROUP BY 1, 2 ORDER BY d, m"
    )
    on = engine.submit_sql(sql)
    assert on["rewrite"]["answered_by"] == "swapped"
    off = engine.submit_sql(sql, rewrite="off")
    assert _rows(engine, on["query_id"]) == _rows(engine, off["query_id"])


def test_bucket_rewrite_stale_ok_serves_pinned_bucket_answer(
    engine, spark, tmv
):
    """After the source advances: strict falls back to verbatim,
    stale_ok answers from the rollup and equals the verbatim run
    pinned at the rollup's applied version — the same freshness
    contract as plain keys, now over bucket keys."""
    import datetime as dt

    src, rol = tmv
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame(
            [(900, dt.datetime(2024, 2, 20, 9), "t0", 777)],
            "k int, ts timestamp, typ string, val int",
        ),
        key="k",
    )
    strict = engine.submit_sql(TSQL)
    assert strict["rewrite"]["answered_by"] == "base"
    stale = engine.submit_sql(TSQL, freshness="stale_ok")
    assert stale["rewrite"]["answered_by"] == "daily"
    pinned = engine.submit_sql(TSQL, snap_versions="tev:0", rewrite="off")
    assert _rows(engine, stale["query_id"]) == _rows(
        engine, pinned["query_id"]
    )
    assert _rows(engine, strict["query_id"]) != _rows(
        engine, stale["query_id"]
    )


def test_bucket_rewrite_fallback_reasons_are_loud(engine, spark, tmv):
    """Every unprovable bucket shape lands in the audit with a
    reason, never a silent wrong answer: unmatched unit → base;
    timezone drift → base with the zone named; alias colliding with
    a real column → ineligible at the gate; bucket over a non-time
    column → ineligible at the gate."""
    # a WEEKLY bucket has no serving rollup → base
    wk = (
        "SELECT date_trunc('week', ts) AS w, COUNT(*) AS n "
        "FROM snap_tev GROUP BY 1"
    )
    rdf, audit = engine._try_sql_rewrite(wk, {}, False, "strict")
    assert rdf is None and audit["answered_by"] == "base"
    assert any(
        "not maintained" in s["reason"] for s in audit["skipped"]
    )
    # session timezone drift: the stored buckets are UTC-truncated
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rdf, audit = engine._try_sql_rewrite(TSQL, {}, False, "strict")
        assert rdf is None and audit["answered_by"] == "base"
        assert any("timezone" in s["reason"] for s in audit["skipped"])
    finally:
        spark.conf.unset("spark.sql.session.timeZone")
    # alias shadowing a real column
    bad_alias = (
        "SELECT date_trunc('day', ts) AS typ, COUNT(*) AS n "
        "FROM snap_tev GROUP BY 1"
    )
    rdf, audit = engine._try_sql_rewrite(bad_alias, {}, False, "strict")
    assert rdf is None and audit["eligible"] is False
    assert "collides" in audit["reason"]
    # bucket over an int column engages implicit casts → refuse
    non_time = (
        "SELECT year(val) AS yr, COUNT(*) AS n "
        "FROM snap_tev GROUP BY 1"
    )
    rdf, audit = engine._try_sql_rewrite(non_time, {}, False, "strict")
    assert rdf is None and audit["eligible"] is False
    assert "date/timestamp" in audit["reason"]


def test_bucket_registration_must_match_the_marker(engine, spark, tmv):
    """Registering a bucket rollup with expressions that contradict
    its _bucketspec marker — or claiming buckets on a plain rollup —
    is refused at registration, not discovered as a wrong answer."""
    src, rol = tmv
    with pytest.raises(ValueError, match="contradicts"):
        engine.register_rollup(
            "tev", "daily2", rol, ["day", "typ"], "val",
            group_exprs={"day": "date_trunc('month', ts)"},
        )
    plain = str(
        engine.work_dir if hasattr(engine, "work_dir") else rol
    )
    # a plain rollup claiming bucket keys has no marker to back it
    import os as _os
    rol2 = rol + "_plainclaim"
    ivm.maintain_rollup(spark, src, rol2, ["typ"], "val")
    assert not _os.path.exists(_os.path.join(rol2, "_bucketspec"))
    with pytest.raises(ValueError, match="no _bucketspec"):
        engine.register_rollup(
            "tev", "plainclaim", rol2, ["typ"], "val",
            group_exprs={"typ": "year(ts)"},
        )


# ---- round 11: snowflake hop in the join rewrite (r10 VERDICT #4b) ----


@pytest.fixture()
def snowflake_mv(engine, spark, tmp_path):
    """fact → dim (star) → dim2 (one proven hop): orders-style fact
    keyed on custkey, a customer-style dim carrying a nationkey, and
    a nation-style hop target — every pk UNIQUE-proven, the fact
    measure NOT-NULL-proven, and an fk-keyed rollup maintained."""
    fact = str(tmp_path / "sf_fact")
    rows = [(i, (i * 3) % 8, (i * 11) % 50) for i in range(90)]
    SN.write_snapshot(
        fact, spark.createDataFrame(rows, ["k", "custkey", "val"])
    )
    SN.add_constraint(spark, fact, "val_nn", "val IS NOT NULL")
    dim = str(tmp_path / "sf_dim")
    SN.write_snapshot(
        dim,
        spark.createDataFrame(
            [(c, c % 3, f"cust{c}") for c in range(8)],
            ["custkey", "natkey", "cname"],
        ),
    )
    SN.add_unique_constraint(spark, dim, "ck_uq", "custkey")
    hop = str(tmp_path / "sf_hop")
    SN.write_snapshot(
        hop,
        spark.createDataFrame(
            [(0, "alpha"), (1, "beta"), (2, "gamma")],
            ["natkey", "natname"],
        ),
    )
    SN.add_unique_constraint(spark, hop, "nk_uq", "natkey")
    rol = str(tmp_path / "sf_rol")
    ivm.maintain_rollup(spark, fact, rol, ["custkey"], "val")
    engine.register_snapshot_table("sffact", fact)
    engine.register_snapshot_table("sfdim", dim)
    engine.register_snapshot_table("sfhop", hop)
    engine.register_rollup("sffact", "by_custkey", rol, ["custkey"], "val")
    return fact, dim, hop, rol


SNOW_SQL = (
    "SELECT h.natname, COUNT(*) AS n, SUM(f.val) AS total, "
    "AVG(f.val) AS mean "
    "FROM snap_sffact f "
    "JOIN snap_sfdim d ON f.custkey = d.custkey "
    "JOIN snap_sfhop h ON d.natkey = h.natkey "
    "GROUP BY h.natname ORDER BY natname"
)


def test_snowflake_hop_answers_from_rollup_zero_fact_files(
    engine, snowflake_mv
):
    """GROUP BY an attribute ONE proven hop past the star: the fact
    side serves from the fk rollup, both dims join at full fidelity,
    zero fact files read, and the wire result equals verbatim."""
    fact, dim, hop, rol = snowflake_mv
    rdf, audit = engine._try_sql_rewrite(SNOW_SQL, {}, False, "strict")
    assert audit["answered_by"] == "by_custkey"
    files = rdf.inputFiles()
    assert files and not any(fact in f for f in files)
    on = engine.submit_sql(SNOW_SQL)
    assert on["rewrite"]["answered_by"] == "by_custkey"
    off = engine.submit_sql(SNOW_SQL, rewrite="off")
    assert _rows(engine, on["query_id"]) == _rows(engine, off["query_id"])


def test_snowflake_hop_with_hop_side_filter_and_star_group(
    engine, snowflake_mv
):
    """A hop-side WHERE plus grouping on BOTH the star dim and the
    hop: still served, still verbatim-equal."""
    sql = (
        "SELECT d.natkey, h.natname, COUNT(*) AS n "
        "FROM snap_sffact f "
        "JOIN snap_sfdim d ON f.custkey = d.custkey "
        "JOIN snap_sfhop h ON d.natkey = h.natkey "
        "WHERE h.natname IN ('alpha', 'beta') "
        "GROUP BY d.natkey, h.natname ORDER BY natkey, natname"
    )
    on = engine.submit_sql(sql)
    assert on["rewrite"]["answered_by"] == "by_custkey"
    off = engine.submit_sql(sql, rewrite="off")
    assert _rows(engine, on["query_id"]) == _rows(engine, off["query_id"])


def test_snowflake_hop_refusals_are_loud(engine, spark, snowflake_mv):
    """No UNIQUE proof on the hop pk → refused with the constraint
    hint; an ON referencing a dim joined LATER → outside the
    grammar; a hop fk missing from its dim schema → named."""
    fact, dim, hop, rol = snowflake_mv
    SN.drop_constraint(hop, "nk_uq")
    rdf, audit = engine._try_sql_rewrite(SNOW_SQL, {}, False, "strict")
    assert rdf is None and "UNIQUE proof" in audit["reason"]
    SN.add_unique_constraint(spark, hop, "nk_uq", "natkey")
    forward = (
        "SELECT h.natname, COUNT(*) AS n "
        "FROM snap_sffact f "
        "JOIN snap_sfdim d ON h.natkey = d.custkey "
        "JOIN snap_sfhop h ON d.natkey = h.natkey "
        "GROUP BY h.natname"
    )
    rdf, audit = engine._try_sql_rewrite(forward, {}, False, "strict")
    assert rdf is None and "outside the rewrite grammar" in audit["reason"]
    ghost = (
        "SELECT h.natname, COUNT(*) AS n "
        "FROM snap_sffact f "
        "JOIN snap_sfdim d ON f.custkey = d.custkey "
        "JOIN snap_sfhop h ON d.nope = h.natkey "
        "GROUP BY h.natname"
    )
    rdf, audit = engine._try_sql_rewrite(ghost, {}, False, "strict")
    assert rdf is None and "'nope'" in audit["reason"]


# ---- round 11: estimate tier through the join rewrite (VERDICT #6) ----


@pytest.fixture()
def qjoin_mv(engine, spark, tmp_path):
    """Fact with a quantile aux rollup keyed on fk + UNIQUE-proven
    dim — the one estimate-tier shape the join rewrite serves."""
    fact = str(tmp_path / "qj_fact")
    rows = [(i, i % 5, (i * 17) % 200) for i in range(400)]
    SN.write_snapshot(
        fact, spark.createDataFrame(rows, ["k", "fk", "val"])
    )
    dim = str(tmp_path / "qj_dim")
    SN.write_snapshot(
        dim,
        spark.createDataFrame(
            [(d, f"seg{d % 2}") for d in range(5)], ["fk", "seg"]
        ),
    )
    SN.add_unique_constraint(spark, dim, "fk_uq", "fk")
    rol = str(tmp_path / "qj_rol")
    ivm.maintain_aux_rollup(spark, fact, rol, ["fk"], "val", kind="quantile")
    engine.register_snapshot_table("qjfact", fact)
    engine.register_snapshot_table("qjdim", dim)
    engine.register_rollup(
        "qjfact", "q_by_fk", rol, ["fk"], "val", kind="quantile"
    )
    return fact, dim, rol


QJ_SQL = (
    "SELECT f.fk, d.seg, approx_percentile(f.val, 0.5) AS p50, "
    "COUNT(*) AS n "
    "FROM snap_qjfact f JOIN snap_qjdim d ON f.fk = d.fk "
    "GROUP BY f.fk, d.seg ORDER BY fk, seg"
)


def test_quantile_joins_when_every_fk_is_grouped(engine, spark, qjoin_mv):
    """With every join fk a group key, no estimate is ever re-merged
    — the join rewrite serves approx_percentile from the quantile
    rollup under rewrite=approx: zero fact files, counts exact, and
    every estimate within the DDSketch α = (γ−1)/(γ+1) of the true
    type-1 order statistic."""
    import math

    fact, dim, rol = qjoin_mv
    rdf, audit = engine._try_sql_rewrite(QJ_SQL, {}, True, "strict")
    assert audit["answered_by"] == "q_by_fk"
    files = rdf.inputFiles()
    assert files and not any(fact in f for f in files)
    got = {(r.fk, r.seg): (r.p50, r.n) for r in rdf.collect()}
    assert len(got) == 5
    base = {
        (r.fk,): sorted(
            x.val
            for x in SN.read_snapshot(spark, fact)
            .where(f"fk = {r.fk}")
            .collect()
        )
        for r in rdf.collect()
    }
    alpha = 0.02 / 2.02
    for (fk, seg), (p50, n) in got.items():
        vals = base[(fk,)]
        assert n == len(vals)
        order_stat = vals[max(1, math.ceil(0.5 * len(vals))) - 1]
        assert abs(p50 - order_stat) <= alpha * abs(order_stat) + 1e-9


def test_quantile_join_refusals_stay_loud(engine, qjoin_mv):
    """Grouping that would merge partials refuses at every opt-in
    level; the fk-grouped shape still needs rewrite=approx; HAVING on
    the estimate never serves."""
    seg_only = (
        "SELECT d.seg, approx_percentile(f.val, 0.5) AS p50 "
        "FROM snap_qjfact f JOIN snap_qjdim d ON f.fk = d.fk "
        "GROUP BY d.seg"
    )
    rdf, audit = engine._try_sql_rewrite(seg_only, {}, True, "strict")
    assert rdf is None and "cannot be re-merged" in audit["reason"]
    rdf, audit = engine._try_sql_rewrite(QJ_SQL, {}, False, "strict")
    assert rdf is None and "rewrite=approx" in audit["reason"]
    having = (
        "SELECT f.fk, approx_percentile(f.val, 0.5) AS p50 "
        "FROM snap_qjfact f JOIN snap_qjdim d ON f.fk = d.fk "
        "GROUP BY f.fk HAVING p50 > 10"
    )
    rdf, audit = engine._try_sql_rewrite(having, {}, True, "strict")
    assert rdf is None and "HAVING filters on an estimate" in audit["reason"]


def test_bucket_alias_reserved_and_ordinal_conf_gates(engine, spark, tmv):
    """r11 code review pins: a bucket alias spelled like a rollup
    partial column (n_rows/sum_val/...) falls back with the reserved-
    namespace reason instead of silently clobbering the partial; and
    ordinal GROUP BY recognition refuses when
    spark.sql.groupByOrdinal is off (the verbatim statement then
    groups by the literal)."""
    clobber = (
        "SELECT date_trunc('day', ts) AS n_rows, COUNT(*) AS n "
        "FROM snap_tev GROUP BY 1"
    )
    rdf, audit = engine._try_sql_rewrite(clobber, {}, False, "strict")
    assert rdf is None and "reserved partial" in audit["reason"]
    spark.conf.set("spark.sql.groupByOrdinal", "false")
    try:
        rdf, audit = engine._try_sql_rewrite(
            "SELECT typ, COUNT(*) AS n FROM snap_tev GROUP BY 1",
            {}, False, "strict",
        )
        assert rdf is None
        assert "groupByOrdinal is disabled" in audit["reason"]
    finally:
        spark.conf.unset("spark.sql.groupByOrdinal")
    # expression-spelled GROUP BY is conf-independent — still serves
    rdf, audit = engine._try_sql_rewrite(
        "SELECT date_trunc('day', ts) AS d, COUNT(*) AS n "
        "FROM snap_tev GROUP BY date_trunc('day', ts)",
        {}, False, "strict",
    )
    assert audit["answered_by"] == "daily"
