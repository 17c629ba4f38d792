"""Wire-contract tests for the HTTP/HAL layer — replicates the
reference's Postman collection over a live threaded server
(postman_collection.json:8-266; endpoint semantics SURVEY §2.2)."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request

import pytest

from ensembl_lakehouse_spark.api import ApiServer


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    from ensembl_lakehouse_spark.engine import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark, work_dir=str(tmp_path_factory.mktemp("api_work")))
    eng.catalog.register_dir(SF_DIR)
    with ApiServer(eng) as srv:
        yield srv
    eng.close()


def _get(server, path: str):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{server.port}{path}") as resp:
            return resp.status, dict(resp.headers), json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers), json.loads(e.read())


def test_banner_and_correlation_id(server):
    status, headers, body = _get(server, "/")
    assert status == 200
    assert "message" in body
    assert "X-Correlation-ID" in headers
    # New id per request (app/main.py:32-43).
    _, headers2, _ = _get(server, "/")
    assert headers["X-Correlation-ID"] != headers2["X-Correlation-ID"]


def test_data_types_and_formats(server):
    status, _, body = _get(server, "/data_types")
    assert status == 200 and "lineitem" in body
    status, _, formats = _get(server, "/result_file_formats")
    assert status == 200
    # Reference enum first, EXT formats (orc) appended.
    assert formats == ["csv", "tsv", "xlsx", "json", "xml", "feather", "parquet", "orc"]


def test_filters_ok_and_errors(server):
    status, _, body = _get(server, "/filters/lineitem")
    assert status == 200
    assert {"Name": "l_returnflag", "Type": "string"} in body["columns"]
    assert body["species"] == ["A", "N", "R"]

    status, _, body = _get(server, "/filters/nope")
    assert status == 404
    assert body["detail"] == "Selected data type: nope does not exist!"

    status, _, _ = _get(server, "/filters/%20")
    assert status == 400


def test_submit_status_preview_export_lifecycle(server):
    status, headers, body = _get(
        server,
        "/query/lineitem/R?fields=l_orderkey,l_extendedprice&condition=l_quantity%20%3E%2040",
    )
    assert status == 200
    assert headers["Content-Type"] == "application/hal+json"
    qid = body["query_id"]
    links = body["_links"]
    assert links["export"]["supported_file_formats"][0] == "csv"
    assert links["status"]["href"] == f"/query/{qid}/status"

    deadline = time.time() + 120
    while time.time() < deadline:
        status, _, st = _get(server, f"/query/{qid}/status")
        if st.get("status") in ("SUCCEEDED", "FAILED"):
            break
        time.sleep(0.5)
    assert st["status"] == "SUCCEEDED"
    assert "result" in st

    status, _, prev = _get(server, f"/query/{qid}/preview?maxResults=3")
    assert status == 200
    header = [d["VarCharValue"] for d in prev["Rows"][0]["Data"]]
    assert header == ["l_orderkey", "l_extendedprice"]
    # Athena's MaxResults counts the header row (row 0) within the
    # limit — the reference returns that shape verbatim.
    assert len(prev["Rows"]) == 3  # header + 2 data rows

    status, _, exp = _get(server, f"/query/{qid}/export?file_format=parquet")
    assert status in (200, 202)
    deadline = time.time() + 120
    while time.time() < deadline:
        status, _, exp = _get(server, f"/query/{qid}/export?file_format=parquet")
        if exp["status"] == "DONE":
            break
        time.sleep(0.5)
    assert status == 200 and exp["status"] == "DONE"


def test_query_id_validation_and_not_found(server):
    status, _, body = _get(server, "/query/not-a-uuid/status")
    assert status == 400 and body["detail"] == "Invalid query_id!"

    ghost = "00000000-0000-0000-0000-000000000000"
    status, _, body = _get(server, f"/query/{ghost}/status")
    assert status == 404
    assert body["detail"] == f"Query: {ghost} was not found!"


def test_preview_range_check(server):
    ghost = "00000000-0000-0000-0000-000000000000"
    status, _, _ = _get(server, f"/query/{ghost}/preview?maxResults=5000")
    assert status == 400


def test_presigned_result_url_roundtrip(server):
    """S12: SUCCEEDED status carries a presigned URL; fetching it
    serves the result bytes (part headers deduped); tampering with
    the signature is a 403."""
    _, _, body = _get(server, "/query/lineitem/R?fields=l_orderkey,l_returnflag")
    qid = body["query_id"]
    deadline = time.time() + 120
    while time.time() < deadline:
        _, _, st = _get(server, f"/query/{qid}/status")
        if st.get("status") == "SUCCEEDED":
            break
        time.sleep(0.5)
    url = st["result_url"]
    assert url.startswith("/download?")

    with urllib.request.urlopen(f"http://127.0.0.1:{server.port}{url}") as resp:
        assert resp.status == 200
        text = resp.read().decode()
    assert text.count("l_orderkey,l_returnflag") == 1  # one header total
    assert text.count("\n") > 1

    tampered = url.replace("signature=", "signature=0")
    try:
        urllib.request.urlopen(f"http://127.0.0.1:{server.port}{tampered}")
        raise AssertionError("tampered signature accepted")
    except urllib.error.HTTPError as e:
        assert e.code == 403


def test_url_signer_expiry():
    from urllib.parse import unquote

    from ensembl_lakehouse_spark.service.urls import UrlSigner

    now = [1000.0]
    s = UrlSigner(secret=b"k", clock=lambda: now[0])
    url = s.sign("/tmp/x", ttl_seconds=10)
    # parse_qs in the HTTP layer decodes exactly once; verify takes
    # the decoded path (signing and verifying hash the same bytes).
    q = {
        k: unquote(v)
        for k, v in (p.split("=", 1) for p in url.split("?", 1)[1].split("&"))
    }
    assert s.verify(q["path"], q["expires"], q["signature"])
    now[0] += 11
    assert not s.verify(q["path"], q["expires"], q["signature"])


def test_url_signer_handles_percent_looking_paths():
    """A path whose literal text contains %XX must round-trip: the
    old double-unquote in verify broke every such path (403s)."""
    from urllib.parse import unquote

    from ensembl_lakehouse_spark.service.urls import UrlSigner

    s = UrlSigner(secret=b"k", clock=lambda: 0.0)
    weird = "/data/v%20final/results/abc"
    url = s.sign(weird, ttl_seconds=100)
    q = {
        k: unquote(v)
        for k, v in (p.split("=", 1) for p in url.split("?", 1)[1].split("&"))
    }
    assert q["path"] == weird
    assert s.verify(q["path"], q["expires"], q["signature"])


def test_export_unsupported_format_is_422(server):
    status, headers, body = _get(server, "/query/lineitem/R")
    qid = body["query_id"]
    deadline = time.time() + 120
    while time.time() < deadline:
        _, _, st = _get(server, f"/query/{qid}/status")
        if st.get("status") == "SUCCEEDED":
            break
        time.sleep(0.5)
    status, _, _ = _get(server, f"/query/{qid}/export?file_format=docx")
    assert status == 422


def test_analytics_endpoint_full_flow(server):
    """EXT /analytics: list names, submit a named operator query,
    poll to success, preview through the standard endpoint."""
    status, _, names = _get(server, "/analytics")
    assert status == 200
    assert "bm25_search" in names and "graph_pagerank" in names

    status, _, resp = _get(server, "/analytics/bm25_search")
    assert status == 200
    qid = resp["query_id"]
    assert resp["_links"]["preview"] == f"/query/{qid}/preview"
    deadline = time.time() + 180
    while time.time() < deadline:
        status, _, body = _get(server, f"/query/{qid}/status")
        if body.get("status") in ("SUCCEEDED", "FAILED"):
            break
        time.sleep(0.5)
    assert body["status"] == "SUCCEEDED"
    status, _, prev = _get(server, f"/query/{qid}/preview?maxResults=3")
    header = [c["VarCharValue"] for c in prev["Rows"][0]["Data"]]
    assert header == ["doc_id", "n_terms_matched", "score_fp", "score"]

    # semantic cache: resubmission returns the same id
    _, _, again = _get(server, "/analytics/bm25_search")
    assert again["query_id"] == qid

    status, _, err = _get(server, "/analytics/nope_not_real")
    assert status == 400 and "unknown analytics query" in err["detail"]


def test_sql_endpoint(server):
    import urllib.parse

    q = urllib.parse.quote(
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag"
    )
    status, _, resp = _get(server, f"/sql?query={q}")
    assert status == 200 and "query_id" in resp

    bad = urllib.parse.quote("DROP TABLE lineitem")
    status, _, err = _get(server, f"/sql?query={bad}")
    assert status == 400 and "read-only" in err["detail"]

    status, _, err = _get(server, "/sql")
    assert status == 400


def _wait_succeeded(server, qid, timeout=180):
    deadline = time.time() + timeout
    while time.time() < deadline:
        _, _, body = _get(server, f"/query/{qid}/status")
        if body.get("status") in ("SUCCEEDED", "FAILED"):
            assert body["status"] == "SUCCEEDED", body
            return body
        time.sleep(0.3)
    raise AssertionError("timeout waiting for SUCCEEDED")


def _preview_rows(server, qid, n=50):
    _, _, prev = _get(server, f"/query/{qid}/preview?maxResults={n}")
    rows = prev["Rows"]
    header = [c["VarCharValue"] for c in rows[0]["Data"]]
    return header, [
        [c.get("VarCharValue") for c in r["Data"]] for r in rows[1:]
    ]


def test_params_lifecycle_end_to_end(server):
    """VERDICT r4 item 5: drive parameterized analytics through the
    FULL HTTP lifecycle (submit -> status -> preview -> export) with
    two distinct param sets, pinning that parameterized runs bypass
    the bare-key semantic cache entry and that non-default results
    are never served to default requests."""
    # default bm25 run (bare cache key)
    _, _, d = _get(server, "/analytics/bm25_search")
    default_qid = d["query_id"]
    _wait_succeeded(server, default_qid)
    _, default_rows = _preview_rows(server, default_qid)

    # param set 1: tighter topk — distinct id, row count bound honored
    status, _, p1 = _get(server, "/analytics/bm25_search?topk=3")
    assert status == 200
    assert p1["query_id"] != default_qid
    _wait_succeeded(server, p1["query_id"])
    _, rows1 = _preview_rows(server, p1["query_id"])
    assert len(rows1) <= 3
    # topk truncates the same ranking: prefix of the default result
    assert rows1 == default_rows[: len(rows1)]

    # param set 2: different terms — distinct id from BOTH prior runs
    status, _, p2 = _get(server, "/analytics/bm25_search?terms=model,table&topk=3")
    assert status == 200
    assert p2["query_id"] not in (default_qid, p1["query_id"])
    _wait_succeeded(server, p2["query_id"])

    # export the parameterized result through the standard endpoint
    qid1 = p1["query_id"]
    status, _, exp = _get(server, f"/query/{qid1}/export?file_format=csv")
    assert status in (200, 202)
    deadline = time.time() + 120
    while exp["status"] != "DONE" and time.time() < deadline:
        time.sleep(0.3)
        _, _, exp = _get(server, f"/query/{qid1}/export?file_format=csv")
    assert exp["status"] == "DONE"

    # identical param resubmission -> same id (per-param cache key)
    _, _, again = _get(server, "/analytics/bm25_search?topk=3")
    assert again["query_id"] == p1["query_id"]
    # explicit defaults collapse onto the bare key
    _, _, expl = _get(server, "/analytics/bm25_search?topk=20")
    # and a fresh default request still gets the DEFAULT result
    _, _, d2 = _get(server, "/analytics/bm25_search")
    assert d2["query_id"] == default_qid
    assert expl["query_id"] == default_qid

    # dedup_near with a non-default threshold: full lifecycle, and
    # the stricter threshold can only shrink the pair set
    _, _, nd = _get(server, "/analytics/dedup_near")
    _wait_succeeded(server, nd["query_id"])
    _, base_pairs = _preview_rows(server, nd["query_id"], n=1000)
    _, _, hi = _get(server, "/analytics/dedup_near?threshold=0.95")
    assert hi["query_id"] != nd["query_id"]
    _wait_succeeded(server, hi["query_id"])
    _, strict_pairs = _preview_rows(server, hi["query_id"], n=1000)
    assert len(strict_pairs) <= len(base_pairs)
    as_set = {tuple(r[:2]) for r in base_pairs}
    assert all(tuple(r[:2]) in as_set for r in strict_pairs)

    # invalid param value fails closed with a 400, not a 500
    status, _, err = _get(server, "/analytics/dedup_near?threshold=2.5")
    assert status == 400 and "threshold" in err["detail"]
    status, _, err = _get(server, "/analytics/dedup_near?bogus=1")
    assert status == 400


def test_sql_time_travel_over_registered_snapshot_versions(server, tmp_path):
    """VERDICT r4 item 6: lakehouse time travel through GET /sql —
    write v0, merge v1, register the live view AND a version-pinned
    view, and the SAME SQL shape serves v1 rows from the live view
    while the pin serves v0; cache keys stay distinct."""
    import urllib.parse

    from ensembl_lakehouse_spark import snapshots as SN

    eng = server.engine
    spark = eng.spark
    tdir = str(tmp_path / "tt_docs")
    SN.write_snapshot(
        tdir,
        spark.createDataFrame(
            [(1, "en"), (2, "fr"), (3, "en")], ["doc_id", "lang"]
        ),
    )
    SN.merge_snapshot(
        spark, tdir,
        spark.createDataFrame([(4, "de"), (5, "de")], ["doc_id", "lang"]),
        key="doc_id",
    )
    eng.catalog.register_snapshot("tt_live", tdir)            # v1
    eng.catalog.register_snapshot("tt_hist", tdir, version=0)  # pinned v0

    def run(sql):
        q = urllib.parse.quote(sql)
        status, _, resp = _get(server, f"/sql?query={q}")
        assert status == 200, resp
        qid = resp["query_id"]
        _wait_succeeded(server, qid)
        _, rows = _preview_rows(server, qid, n=10)
        return qid, rows

    live_qid, live = run("SELECT COUNT(*) AS n FROM tt_live")
    hist_qid, hist = run("SELECT COUNT(*) AS n FROM tt_hist")
    assert live == [["5"]] and hist == [["3"]]
    assert live_qid != hist_qid  # distinct cache keys per view state

    # advancing the pin re-keys the cache: same SQL, new id, new rows
    eng.catalog.register_snapshot("tt_hist", tdir, version=1)
    hist2_qid, hist2 = run("SELECT COUNT(*) AS n FROM tt_hist")
    assert hist2 == [["5"]] and hist2_qid != hist_qid


def test_cdc_over_http_end_to_end(server, spark, tmp_path_factory):
    """Round 6 (r5 VERDICT #7): write → merge → poll the diff over
    HTTP — /table lists the registered table, /history serves the
    retained versions, /changes submits the CDC read through the
    async lifecycle and the preview returns the MERGE-feed rows."""
    import time as _time

    from ensembl_lakehouse_spark import snapshots as SN

    tdir = str(tmp_path_factory.mktemp("cdc_http") / "tbl")
    SN.write_snapshot(
        tdir, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    )
    SN.merge_snapshot(
        spark, tdir,
        spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]),
        key="k",
    )
    server.engine.register_snapshot_table("mirror_src", tdir)

    status, _, names = _get(server, "/table")
    assert status == 200 and "mirror_src" in names

    status, _, hist = _get(server, "/table/mirror_src/history")
    assert status == 200
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[-1]["is_current"]

    # bad requests fail closed
    assert _get(server, "/table/nope/history")[0] == 400
    assert _get(server, "/table/mirror_src/changes")[0] == 400  # no from
    assert _get(server, "/table/mirror_src/changes?from_version=9")[0] == 400

    status, _, resp = _get(
        server, "/table/mirror_src/changes?from_version=0&key=k"
    )
    assert status == 200 and resp["to_version"] == 1
    qid = resp["query_id"]
    for _ in range(120):
        st = _get(server, f"/query/{qid}/status")[2]
        if st["status"] in ("SUCCEEDED", "FAILED"):
            break
        _time.sleep(0.5)
    assert st["status"] == "SUCCEEDED"
    _, _, prev = _get(server, f"/query/{qid}/preview?maxResults=10")
    hdr = [c["VarCharValue"] for c in prev["Rows"][0]["Data"]]
    rows = [
        dict(zip(hdr, [c["VarCharValue"] for c in r["Data"]]))
        for r in prev["Rows"][1:]
    ]
    changes = {(r["k"], r["_change"]) for r in rows}
    assert changes == {("2", "update"), ("3", "insert")}

    # repeat submission returns the SAME query id (immutable diff)
    _, _, resp2 = _get(
        server, "/table/mirror_src/changes?from_version=0&key=k"
    )
    assert resp2["query_id"] == qid
    # a new commit moves to_version -> a fresh query id
    SN.merge_snapshot(
        spark, tdir, spark.createDataFrame([(4, "d")], ["k", "v"]), key="k"
    )
    _, _, resp3 = _get(
        server, "/table/mirror_src/changes?from_version=0&key=k"
    )
    assert resp3["to_version"] == 2 and resp3["query_id"] != qid


def test_retention_report_over_http(server, spark, tmp_path_factory):
    """Vacuum dry-run over HTTP: after a DELETE, old versions pin
    bytes until vacuum — the report sizes exactly what a retention
    pass would drop, and the actual vacuum then matches it."""
    from ensembl_lakehouse_spark import snapshots as SN

    tdir = str(tmp_path_factory.mktemp("ret_http") / "tbl")
    SN.write_snapshot(
        tdir,
        spark.createDataFrame(
            [(i, "x" * 50) for i in range(100)], ["k", "v"]
        ).coalesce(1),
    )
    SN.delete_snapshot(spark, tdir, where="k < 50", op="erasure:http")
    server.engine.register_snapshot_table("ret_tbl", tdir)

    status, _, rep = _get(server, "/table/ret_tbl/retention?keep_versions=1")
    assert status == 200
    assert rep["kept"] == [1]
    assert rep["drop_manifest_versions"] == [0]
    assert rep["drop_dirs"] and rep["drop_bytes"] > 0

    assert _get(server, "/table/ret_tbl/retention?keep_versions=0")[0] == 400
    assert _get(server, "/table/nope/retention")[0] == 400

    # the dry run predicts the real vacuum exactly
    removed = SN.vacuum(tdir, keep_versions=1)
    assert sorted(removed) == sorted(rep["drop_dirs"])


def test_tags_over_http(server, spark, tmp_path_factory):
    from ensembl_lakehouse_spark import snapshots as SN

    tdir = str(tmp_path_factory.mktemp("tags_http") / "tbl")
    SN.write_snapshot(tdir, spark.createDataFrame([(1, "a")], ["k", "v"]))
    SN.write_snapshot(tdir, spark.createDataFrame([(2, "b")], ["k", "v"]))
    SN.tag_snapshot(tdir, "baseline", version=0)
    server.engine.register_snapshot_table("tagged_tbl", tdir)
    status, _, tags = _get(server, "/table/tagged_tbl/tags")
    assert status == 200 and tags == {"baseline": 0}
    assert _get(server, "/table/nope/tags")[0] == 400


def test_table_summary_over_http(server, spark, tmp_path_factory):
    from ensembl_lakehouse_spark import snapshots as SN

    tdir = str(tmp_path_factory.mktemp("summary_http") / "tbl")
    SN.write_snapshot(tdir, spark.createDataFrame([(1, 5)], "k BIGINT, s BIGINT"))
    SN.add_constraint(spark, tdir, "s_pos", "s > 0")
    SN.tag_snapshot(tdir, "gold")
    SN.publish_snapshot(tdir)
    server.engine.register_snapshot_table("sum_tbl", tdir)
    status, _, s = _get(server, "/table/sum_tbl")
    assert status == 200
    assert s == {
        "name": "sum_tbl",
        "current_version": 0,
        "published_version": 0,
        "tags": {"gold": 0},
        "constraints": {"s_pos": "s > 0"},
    }
    assert _get(server, "/table/nope")[0] == 400


def test_mv_aggregate_over_http(server, spark, tmp_path_factory):
    """The MV-rewrite surface end-to-end: a registered fresh rollup
    answers /table/{n}/aggregate (answered_by says so), a source
    commit flips strict requests to the base path while stale_ok
    still serves the rollup, and cache keys pin (version, path)."""
    import time as _time

    from ensembl_lakehouse_spark import ivm
    from ensembl_lakehouse_spark import snapshots as SN

    base = tmp_path_factory.mktemp("mv_http")
    src, rol = str(base / "src"), str(base / "rol")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, f"g{i % 3}", i) for i in range(30)], ["k", "grp", "val"]
        ),
    )
    ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    server.engine.register_snapshot_table("mv_src", src)
    server.engine.register_rollup("mv_src", "mv_by_grp", rol, ["grp"], "val")

    # bad requests fail closed
    assert _get(server, "/table/mv_src/aggregate")[0] == 400  # no aggs
    assert _get(
        server, "/table/mv_src/aggregate?group_by=grp&aggs=n%3Dmedian%3Aval"
    )[0] == 400
    assert _get(
        server,
        "/table/mv_src/aggregate?group_by=grp&aggs=n%3Dcount&freshness=bogus",
    )[0] == 400

    def submit(qs):
        status, _, resp = _get(server, f"/table/mv_src/aggregate?{qs}")
        assert status == 200, resp
        return resp

    def rows_of(qid):
        for _ in range(120):
            st = _get(server, f"/query/{qid}/status")[2]
            if st["status"] in ("SUCCEEDED", "FAILED"):
                break
            _time.sleep(0.5)
        assert st["status"] == "SUCCEEDED"
        _, _, prev = _get(server, f"/query/{qid}/preview?maxResults=10")
        hdr = [c["VarCharValue"] for c in prev["Rows"][0]["Data"]]
        return {
            r["Data"][hdr.index("grp")]["VarCharValue"]: [
                c["VarCharValue"] for c in r["Data"]
            ]
            for r in prev["Rows"][1:]
        }

    q = "group_by=grp&aggs=n%3Dcount%2Ctotal%3Dsum%3Aval"
    resp = submit(q)
    assert resp["answered_by"] == "mv_by_grp"
    got = rows_of(resp["query_id"])
    # ground truth: g0 holds k=0,3,...,27 -> 10 rows, sum 135
    assert got["g0"][1:] == ["10", "135"]

    # same request → same cached query id
    assert submit(q)["query_id"] == resp["query_id"]

    # source commit: strict falls back to base, fresh numbers
    SN.write_snapshot(
        src,
        spark.createDataFrame([(100, "g0", 1000)], ["k", "grp", "val"]),
        mode="append",
    )
    resp2 = submit(q)
    assert resp2["answered_by"] == "base"
    assert resp2["skipped"] and resp2["skipped"][0]["reason"].startswith("stale")
    assert rows_of(resp2["query_id"])["g0"][1:] == ["11", "1135"]

    # stale_ok still serves the rollup's (older) numbers
    resp3 = submit(q + "&freshness=stale_ok")
    assert resp3["answered_by"] == "mv_by_grp"
    assert rows_of(resp3["query_id"])["g0"][1:] == ["10", "135"]

    # maintenance restores the rollup path with the fresh numbers
    ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    resp4 = submit(q)
    assert resp4["answered_by"] == "mv_by_grp"
    assert rows_of(resp4["query_id"])["g0"][1:] == ["11", "1135"]

    # the stale_ok cache key must track the ROLLUP version: the
    # source version did not move across the maintenance above, so a
    # source-version-only key would serve resp3's pre-maintenance
    # numbers here forever (r6 code-review finding)
    resp5 = submit(q + "&freshness=stale_ok")
    assert resp5["answered_by"] == "mv_by_grp"
    assert resp5["query_id"] != resp3["query_id"]
    assert rows_of(resp5["query_id"])["g0"][1:] == ["11", "1135"]


def test_sql_over_published_snapshot_views(server, spark, tmp_path_factory):
    """Registered snapshot tables are queryable from raw /sql as
    snap_<name>, pinned at the PUBLISHED version (write-audit-publish
    read contract); a publish advances the view AND the cache key."""
    import time as _time

    from ensembl_lakehouse_spark import snapshots as SN

    tdir = str(tmp_path_factory.mktemp("sql_snap") / "tbl")
    SN.write_snapshot(
        tdir, spark.createDataFrame([(i,) for i in range(10)], ["k"])
    )
    SN.publish_snapshot(tdir, 0)
    SN.write_snapshot(  # staged v1, NOT published
        tdir,
        spark.createDataFrame([(100,)], ["k"]),
        mode="append",
    )
    server.engine.register_snapshot_table("sqlsnap", tdir)

    def count_via_sql():
        import urllib.parse

        q = urllib.parse.quote("SELECT COUNT(*) AS n FROM snap_sqlsnap")
        status, _, resp = _get(server, f"/sql?query={q}")
        assert status == 200, resp
        qid = resp["query_id"]
        for _ in range(120):
            st = _get(server, f"/query/{qid}/status")[2]
            if st["status"] in ("SUCCEEDED", "FAILED"):
                break
            _time.sleep(0.5)
        assert st["status"] == "SUCCEEDED"
        _, _, prev = _get(server, f"/query/{qid}/preview?maxResults=3")
        return qid, int(prev["Rows"][1]["Data"][0]["VarCharValue"])

    qid0, n0 = count_via_sql()
    assert n0 == 10  # staged v1 invisible to SQL consumers

    SN.publish_snapshot(tdir, 1)
    qid1, n1 = count_via_sql()
    assert n1 == 11
    assert qid1 != qid0  # version is in the cache key — no stale hit


def test_register_snapshot_table_requires_sql_identifier(
    server, spark, tmp_path_factory
):
    """r7 ADVICE (engine.py:286): the registered name becomes the
    snap_<name> temp view on EVERY /sql submit, and Spark rejects
    hyphenated view names — one bad registration used to break the
    whole /sql endpoint. Non-identifier names are now rejected at
    registration time."""
    from ensembl_lakehouse_spark import snapshots as SN
    from ensembl_lakehouse_spark.engine import QueryValidationError

    tdir = str(tmp_path_factory.mktemp("badname") / "tbl")
    SN.write_snapshot(tdir, spark.createDataFrame([(1, "a")], ["k", "v"]))
    for bad in ("a-b", "7abc", "", "a b", "a;drop"):
        with pytest.raises(QueryValidationError, match="identifier"):
            server.engine.register_snapshot_table(bad, tdir)
        assert bad not in server.engine.snapshot_table_names()
    # a valid identifier still registers, and /sql keeps working
    server.engine.register_snapshot_table("ok_name7", tdir)
    import urllib.parse

    q = urllib.parse.quote("SELECT COUNT(*) AS n FROM snap_ok_name7")
    status, _, resp = _get(server, f"/sql?query={q}")
    assert status == 200, resp


def test_mv_aggregate_filtered_and_published_pin(
    server, spark, tmp_path_factory
):
    """r7: (a) VERDICT #4a — a filter= on a rollup group key is
    answered FROM the rollup (answered_by audits it) and matches the
    base numbers; (b) r7 ADVICE engine.py:454 — on a published table
    the aggregate surface pins the PUBLISHED version like the snap_
    SQL views, so staged un-audited rows never leak here either."""
    import time as _time

    from ensembl_lakehouse_spark import ivm
    from ensembl_lakehouse_spark import snapshots as SN

    base = tmp_path_factory.mktemp("mv_filt")
    src, rol = str(base / "src"), str(base / "rol")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, f"g{i % 3}", i) for i in range(30)], ["k", "grp", "val"]
        ),
    )
    ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    server.engine.register_snapshot_table("mvf_src", src)
    server.engine.register_rollup("mvf_src", "mvf_by_grp", rol, ["grp"], "val")

    def submit(qs):
        status, _, resp = _get(server, f"/table/mvf_src/aggregate?{qs}")
        assert status == 200, resp
        return resp

    def first_row(qid):
        for _ in range(120):
            st = _get(server, f"/query/{qid}/status")[2]
            if st["status"] in ("SUCCEEDED", "FAILED"):
                break
            _time.sleep(0.5)
        assert st["status"] == "SUCCEEDED"
        _, _, prev = _get(server, f"/query/{qid}/preview?maxResults=10")
        hdr = [c["VarCharValue"] for c in prev["Rows"][0]["Data"]]
        return hdr, [
            [c["VarCharValue"] for c in r["Data"]] for r in prev["Rows"][1:]
        ]

    # filtered global aggregate answered from the rollup: g0 ∪ g1
    # = k ≡ 0,1 (mod 3) → 20 rows, sum = 435 - sum(g2: 2,5,...,29=155)
    resp = submit(
        "aggs=n%3Dcount%2Ctotal%3Dsum%3Aval&filter=grp%3Ag0%7Cg1"
    )
    assert resp["answered_by"] == "mvf_by_grp"
    _, rows = first_row(resp["query_id"])
    assert rows == [["20", "280"]]

    # filter on a NON-key column → base path with a recorded reason
    respb = submit("aggs=n%3Dcount&filter=k%3A1%7C2")
    assert respb["answered_by"] == "base"
    assert any("filter column" in s["reason"] for s in respb["skipped"])
    _, rowsb = first_row(respb["query_id"])
    assert rowsb == [["2"]]

    # malformed filter fails closed
    assert _get(
        server, "/table/mvf_src/aggregate?aggs=n%3Dcount&filter=nocolon"
    )[0] == 400

    # ---- published pin: stage a new row WITHOUT publishing ----
    SN.publish_snapshot(src, SN.current_version(src))
    SN.write_snapshot(
        src,
        spark.createDataFrame([(100, "g0", 1000)], ["k", "grp", "val"]),
        mode="append",
    )  # staged, un-audited
    resp2 = submit("aggs=n%3Dcount")  # metadata tier, pinned version
    assert resp2["answered_by"] == "metadata"
    _, rows2 = first_row(resp2["query_id"])
    assert rows2 == [["30"]]  # staged row invisible
    # the pinned rollup path stays fresh w.r.t. the PUBLISHED version
    resp3 = submit("aggs=total%3Dsum%3Aval&filter=grp%3Ag0")
    assert resp3["answered_by"] == "mvf_by_grp"
    _, rows3 = first_row(resp3["query_id"])
    assert rows3 == [["135"]]
    # publishing the staged version advances the surface + cache key
    SN.publish_snapshot(src, SN.current_version(src))
    resp4 = submit("aggs=n%3Dcount")
    assert resp4["answered_by"] == "metadata"
    assert resp4["query_id"] != resp2["query_id"]
    _, rows4 = first_row(resp4["query_id"])
    assert rows4 == [["31"]]


def test_sql_snap_versions_time_travel(server, spark, tmp_path_factory):
    """r7 (VERDICT #5): VERSION AS OF through the validated params
    surface — &snap_versions=name:v pins a snap_ view at a retained
    version for one request; distinct pins cache separately, the
    same pin re-asked HITS, and unpinned requests keep the
    published read contract."""
    import urllib.parse

    from ensembl_lakehouse_spark import snapshots as SN

    tdir = str(tmp_path_factory.mktemp("sql_tt") / "tbl")
    SN.write_snapshot(
        tdir, spark.createDataFrame([(i,) for i in range(5)], ["k"])
    )
    SN.write_snapshot(
        tdir, spark.createDataFrame([(100,), (101,)], ["k"]), mode="append"
    )  # v1
    server.engine.register_snapshot_table("ttv", tdir)

    def run(extra=""):
        q = urllib.parse.quote("SELECT COUNT(*) AS n FROM snap_ttv")
        status, _, resp = _get(server, f"/sql?query={q}{extra}")
        if status != 200:
            return status, resp
        qid = resp["query_id"]
        for _ in range(120):
            st = _get(server, f"/query/{qid}/status")[2]
            if st["status"] in ("SUCCEEDED", "FAILED"):
                break
            time.sleep(0.5)
        assert st["status"] == "SUCCEEDED"
        _, _, prev = _get(server, f"/query/{qid}/preview?maxResults=3")
        return qid, int(prev["Rows"][1]["Data"][0]["VarCharValue"])

    live_qid, live_n = run()
    assert live_n == 7  # current (no publish pointer) = v1
    v0_qid, v0_n = run("&snap_versions=ttv%3A0")
    assert v0_n == 5 and v0_qid != live_qid
    # same pin re-asked → same cached entry; the pin never leaks
    # into the next unpinned request
    assert run("&snap_versions=ttv%3A0")[0] == v0_qid
    assert run() == (live_qid, 7)
    # both versions stay addressable side by side
    v1_qid, v1_n = run("&snap_versions=ttv%3A1")
    assert v1_n == 7

    # validation fails closed: unknown table, bad version, not an int
    assert run("&snap_versions=nope%3A0")[0] == 400
    assert run("&snap_versions=ttv%3A99")[0] == 400
    assert run("&snap_versions=ttv%3Aabc")[0] == 400


def test_medallion_chain_over_http(server, spark, tmp_path_factory):
    """r7 (VERDICT #6): the streaming medallion loop driven from the
    wire — run the stream→source→rollup chain, aggregate over HTTP
    (answered_by=rollup), land+ingest a new batch WITHOUT a
    maintenance tick (strict falls back to base, loudly), then tick
    and watch the rollup answer return fresh."""
    import glob
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    from ensembl_lakehouse_spark import ivm
    from ensembl_lakehouse_spark.streaming import ivm_stream as IS
    from ensembl_lakehouse_spark.streaming.events import load_events_batch
    from tests.conftest import SF_DIR

    base = tmp_path_factory.mktemp("medallion_http")
    watch = str(base / "watch")
    src = str(base / "source")
    ckpt = str(base / "ckpt")
    rollup = IS.RollupDef(str(base / "by_type"), ("event_type",), "value")

    events = load_events_batch(spark, f"{SF_DIR}/events.parquet")
    half1 = events.where("pmod(hash(event_id), 2) = 0")
    half2 = events.where("pmod(hash(event_id), 2) = 1")

    def land(df, stage_name):
        stage = str(base / stage_name)
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        import os

        os.makedirs(watch, exist_ok=True)
        for f in glob.glob(f"{stage}/part-*.parquet"):
            shutil.copy(f, watch)

    # batch 1 lands and flows through the full chain
    land(half1, "stage1")
    out = IS.run_stream_ivm(
        spark, watch, src, [rollup], checkpoint_dir=ckpt
    )
    assert out["n_input_rows"] == half1.count()
    server.engine.register_snapshot_table("medal", src)
    server.engine.register_rollup(
        "medal", "medal_by_type", rollup.rollup_dir, ["event_type"], "value"
    )

    def agg(extra=""):
        status, _, resp = _get(
            server,
            "/table/medal/aggregate?group_by=event_type&aggs=n%3Dcount"
            + extra,
        )
        assert status == 200, resp
        qid = resp["query_id"]
        for _ in range(120):
            st = _get(server, f"/query/{qid}/status")[2]
            if st["status"] in ("SUCCEEDED", "FAILED"):
                break
            _time.sleep(0.5)
        assert st["status"] == "SUCCEEDED"
        _, _, prev = _get(server, f"/query/{qid}/preview?maxResults=26")
        hdr = [c["VarCharValue"] for c in prev["Rows"][0]["Data"]]
        rows = {
            r["Data"][hdr.index("event_type")]["VarCharValue"]: int(
                r["Data"][hdr.index("n")]["VarCharValue"]
            )
            for r in prev["Rows"][1:]
        }
        return resp["answered_by"], rows

    truth1 = {
        r.event_type: r.n
        for r in half1.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    by, rows = agg()
    assert by == "medal_by_type" and rows == truth1

    # batch 2 lands; ingest it WITHOUT ticking the rollup
    land(half2, "stage2")
    out2 = IS.run_stream_ivm(spark, watch, src, [], checkpoint_dir=ckpt)
    assert out2["n_input_rows"] == half2.count()  # checkpoint: new file only

    by_stale, _ = agg()  # strict: rollup lags the source now
    assert by_stale == "base"
    by_ok, rows_ok = agg("&freshness=stale_ok")
    assert by_ok == "medal_by_type" and rows_ok == truth1

    # maintenance tick catches the rollup up over the missed commit
    ivm.maintain_rollup(
        spark, src, rollup.rollup_dir, ["event_type"], "value"
    )
    truth_all = {
        r.event_type: r.n
        for r in events.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    by2, rows2 = agg()
    assert by2 == "medal_by_type" and rows2 == truth_all


def test_table_maintenance_over_http(server, spark, tmp_path_factory):
    """r7: the read-only ops dashboard — compaction + vacuum
    dry-runs, rowcount, pointers in one zero-Spark-job call."""
    from ensembl_lakehouse_spark import snapshots as SN

    tdir = str(tmp_path_factory.mktemp("maint_http") / "tbl")
    df = spark.range(0, 200).selectExpr("id AS k")
    SN.write_snapshot(tdir, df.repartition(4))
    server.engine.register_snapshot_table("maint_tbl", tdir)

    status, _, resp = _get(server, "/table/maint_tbl/maintenance")
    assert status == 200, resp
    assert resp["rowcount"] == 200 and resp["current_version"] == 0
    assert resp["compaction"]["n_files"] == 4
    assert resp["compaction"]["worth_compacting"] is True
    assert resp["vacuum"]["drop_dirs"] == []

    # after compaction the report flips; the old version shows in
    # the vacuum dry-run once it falls out of the keep window
    SN.compact(spark, tdir, target_files=1)
    status, _, resp2 = _get(
        server, "/table/maint_tbl/maintenance?keep_versions=1"
    )
    assert status == 200
    assert resp2["compaction"]["n_files"] == 1
    assert resp2["compaction"]["worth_compacting"] is False
    assert resp2["vacuum"]["drop_dirs"]  # v0's dir now reclaimable
    assert resp2["rowcount"] == 200
    # r8: op-stamp log growth + the loss-free compaction projection
    assert resp2["txns"]["records"] == 2  # write + compact
    assert resp2["txns"]["projected"] <= resp2["txns"]["records"]

    # fail-closed validation
    assert _get(server, "/table/nope/maintenance")[0] == 400
    assert _get(
        server, "/table/maint_tbl/maintenance?target_bytes=abc"
    )[0] == 400


def test_explain_over_http_shows_pushed_filter(server):
    """r8 (r7 VERDICT #6): GET /sql/explain returns the formatted
    physical plan + its structural summary, and a WHERE
    predicate is visible as a PushedFilters entry in the wire
    response — the plan-discipline story, served."""
    sql = (
        "SELECT l_orderkey, l_extendedprice FROM lineitem "
        "WHERE l_quantity > 40"
    )
    q = urllib.parse.quote(sql)
    status, _, resp = _get(server, f"/sql/explain?query={q}")
    assert status == 200
    assert "plan" in resp and "summary" in resp
    s = resp["summary"]
    assert s["scans"] >= 1
    assert any("l_quantity" in pf for pf in s["pushed"]), s["pushed"]
    # column pruning visible too: the scan reads only what's needed
    assert any(
        "l_extendedprice" in rs and "l_comment" not in rs
        for rs in s["read_schemas"]
    ), s["read_schemas"]
    assert "Scan parquet" in resp["plan"]
    # nothing executed: no query id was minted
    assert "query_id" not in resp
    # same validation as /sql: DDL refused, missing param is 400
    bad = urllib.parse.quote("DROP TABLE lineitem")
    status, _, err = _get(server, f"/sql/explain?query={bad}")
    assert status == 400 and "read-only" in err["detail"]
    status, _, err = _get(server, "/sql/explain")
    assert status == 400


def test_analytics_plan_over_http(server):
    """GET /analytics/{name}/plan: the operator's plan without
    submitting it — summary counts present, broadcast join visible
    for a dimension-joined query, params validated fail-closed."""
    status, _, resp = _get(server, "/analytics/scan_project/plan")
    assert status == 200
    assert resp["summary"]["scans"] >= 1 and "plan" in resp
    status, _, resp = _get(server, "/analytics/join_broadcast/plan")
    if status == 200:  # name exists in the registry
        assert resp["summary"]["broadcasts"] >= 1
    status, _, err = _get(server, "/analytics/nope/plan")
    assert status == 400
    status, _, err = _get(
        server, "/analytics/scan_project/plan?bogus_param=1"
    )
    assert status == 400


def test_aux_rollup_aggregate_over_http(server, spark, tmp_path_factory):
    """r8 e2e: minmax and hll rollups answer /table/{n}/aggregate
    over the wire (answered_by names them), the range-filter syntax
    col:lo..hi parses, and rollup answers equal the base path."""
    import time as _time

    from ensembl_lakehouse_spark import ivm
    from ensembl_lakehouse_spark import snapshots as SN

    base = tmp_path_factory.mktemp("aux_http")
    src = str(base / "src")
    mm, hl = str(base / "mm"), str(base / "hll")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, f"g{i % 3}", i * 2, i % 7) for i in range(60)],
            ["k", "grp", "val", "u"],
        ),
    )
    ivm.maintain_aux_rollup(spark, src, mm, ["grp"], "val")
    ivm.maintain_aux_rollup(spark, src, hl, ["grp"], "u", kind="hll")
    server.engine.register_snapshot_table("aux_src", src)
    server.engine.register_rollup(
        "aux_src", "aux_mm", mm, ["grp"], "val", kind="minmax"
    )
    server.engine.register_rollup(
        "aux_src", "aux_hll", hl, ["grp"], "u", kind="hll"
    )

    def rows_of(qid):
        for _ in range(120):
            st = _get(server, f"/query/{qid}/status")[2]
            if st["status"] in ("SUCCEEDED", "FAILED"):
                break
            _time.sleep(0.5)
        assert st["status"] == "SUCCEEDED", st
        prev = _get(server, f"/query/{qid}/preview?maxResults=26")[2]
        head, *data = prev["Rows"]
        cols = [c["VarCharValue"] for c in head["Data"]]
        return [
            dict(zip(cols, [c.get("VarCharValue") for c in r["Data"]]))
            for r in data
        ]

    # minmax with a BETWEEN range filter, answered from the rollup
    # (explicit col:between: form — grp is a string column, so the
    # bare lo..hi spelling is refused as ambiguous since r10)
    status, _, resp = _get(
        server,
        "/table/aux_src/aggregate?group_by=grp"
        "&aggs=lo%3Dmin%3Aval,hi%3Dmax%3Aval,n%3Dcount"
        "&filter=grp%3Abetween%3Ag0%3Ag1",
    )
    assert status == 200 and resp["answered_by"] == "aux_mm", resp
    got = {r["grp"]: (r["lo"], r["hi"], r["n"]) for r in rows_of(resp["query_id"])}
    assert set(got) == {"g0", "g1"}
    assert got["g0"] == ("0", "114", "20")  # k=0,3..57 -> val 0..114
    # hll approx distinct, rollup-answered, equals the base answer
    status, _, r1 = _get(
        server,
        "/table/aux_src/aggregate?group_by=grp&aggs=du%3Dapprox_distinct%3Au",
    )
    assert status == 200 and r1["answered_by"] == "aux_hll"
    server.engine._rollups.unregister("aux_hll")
    status, _, r2 = _get(
        server,
        "/table/aux_src/aggregate?group_by=grp&aggs=du%3Dapprox_distinct%3Au",
    )
    assert status == 200 and r2["answered_by"] == "base"
    assert rows_of(r1["query_id"]) == rows_of(r2["query_id"])
    # malformed range fails closed
    assert _get(
        server,
        "/table/aux_src/aggregate?aggs=n%3Dcount&filter=grp%3Ag0..g1%7Cg2",
    )[0] == 400
    # r8 ADVICE: col:eq:value is VERBATIM equality — a literal that
    # contains '..' is expressible and never reinterpreted as a range
    status, _, r3 = _get(
        server,
        "/table/aux_src/aggregate?group_by=grp&aggs=n%3Dcount"
        "&filter=grp%3Aeq%3Ag0",
    )
    assert status == 200 and r3["answered_by"] == "aux_mm"
    assert {r["grp"]: r["n"] for r in rows_of(r3["query_id"])} == {"g0": "20"}
    status, _, r4 = _get(
        server,
        "/table/aux_src/aggregate?group_by=grp&aggs=n%3Dcount"
        "&filter=grp%3Aeq%3Av1..2",
    )
    assert status == 200  # equality on 'v1..2', not BETWEEN('v1','2')
    assert rows_of(r4["query_id"]) == []
    # empty eq value fails closed
    assert _get(
        server,
        "/table/aux_src/aggregate?aggs=n%3Dcount&filter=grp%3Aeq%3A",
    )[0] == 400
    # r9 code review: mixing filter FORMS on one column (or naming a
    # column twice positionally) would silently drop a predicate
    # depending on item order — refused in every order
    for f in (
        "grp%3Aeq%3Ag0,grp%3Ag1%7Cg2",   # eq then positional
        "grp%3Ag1%7Cg2,grp%3Aeq%3Ag0",   # positional then eq
        "grp%3Ag0,grp%3Ag1",             # positional twice
        "grp%3Ag0..g1,grp%3Aeq%3Ag0",    # range then eq
    ):
        assert _get(
            server, f"/table/aux_src/aggregate?aggs=n%3Dcount&filter={f}"
        )[0] == 400, f
    # repeated eq: items still union into an IN
    status, _, r5 = _get(
        server,
        "/table/aux_src/aggregate?group_by=grp&aggs=n%3Dcount"
        "&filter=grp%3Aeq%3Ag0,grp%3Aeq%3Ag1",
    )
    assert status == 200
    assert {r["grp"] for r in rows_of(r5["query_id"])} == {"g0", "g1"}


def test_rollups_freshness_dashboard_over_http(server, spark, tmp_path_factory):
    """r8: GET /table/{n}/rollups — the MV freshness dashboard.
    A fresh sum rollup and a fresh hll rollup read "fresh"; a source
    commit flips both to "stale"; maintenance restores them; states
    match what /aggregate actually does."""
    from ensembl_lakehouse_spark import ivm
    from ensembl_lakehouse_spark import snapshots as SN

    base = tmp_path_factory.mktemp("rollups_http")
    src, rol, hl = str(base / "src"), str(base / "rol"), str(base / "hll")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, f"g{i % 2}", i) for i in range(20)], ["k", "grp", "v"]
        ),
    )
    ivm.maintain_rollup(spark, src, rol, ["grp"], "v")
    ivm.maintain_aux_rollup(spark, src, hl, ["grp"], "v", kind="hll")
    server.engine.register_snapshot_table("rb_src", src)
    server.engine.register_rollup("rb_src", "rb_sum", rol, ["grp"], "v")
    server.engine.register_rollup(
        "rb_src", "rb_hll", hl, ["grp"], "v", kind="hll"
    )

    def states():
        status, _, body = _get(server, "/table/rb_src/rollups")
        assert status == 200, body
        return {r["rollup"]: r for r in body}

    st = states()
    assert st["rb_sum"]["freshness"] == "fresh"
    assert st["rb_hll"]["freshness"] == "fresh"
    assert st["rb_sum"]["kind"] == "sum" and st["rb_hll"]["kind"] == "hll"
    assert st["rb_sum"]["rowcount"] == 2  # two groups
    assert st["rb_sum"]["hierarchical"] is False

    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(100, "g0", 9)], ["k", "grp", "v"]),
        key="k",
    )
    st = states()
    assert st["rb_sum"]["freshness"] == "stale"
    assert st["rb_hll"]["freshness"] == "stale"
    # the dashboard's verdict matches the rewrite's actual behavior
    _, _, agg = _get(
        server, "/table/rb_src/aggregate?group_by=grp&aggs=n%3Dcount"
    )
    assert agg["answered_by"] == "base"

    ivm.maintain_rollup(spark, src, rol, ["grp"], "v")
    st = states()
    assert st["rb_sum"]["freshness"] == "fresh"
    assert st["rb_hll"]["freshness"] == "stale"
    _, _, agg = _get(
        server, "/table/rb_src/aggregate?group_by=grp&aggs=n%3Dcount"
    )
    assert agg["answered_by"] == "rb_sum"
    # unknown table fails closed
    assert _get(server, "/table/nope/rollups")[0] == 400


def test_rollups_history_ledger_over_http(server, spark, tmp_path_factory):
    """r9: GET /table/{n}/rollups/history — the maintenance ledger.
    Every tick appears with the feed version it applied and its
    lag-at-apply; a late-committing tick (planned before a feed
    commit, landed after — the crash-recovery replay shape) shows a
    positive lag; a hierarchical child's ticks measure against the
    PARENT feed."""
    import time as _time

    from ensembl_lakehouse_spark import ivm
    from ensembl_lakehouse_spark import snapshots as SN

    base = tmp_path_factory.mktemp("hist_http")
    src, rol, child = (
        str(base / "src"), str(base / "rol"), str(base / "child")
    )
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, i % 5, f"g{i % 2}", i) for i in range(20)],
            ["k", "day", "grp", "v"],
        ),
    )
    ivm.maintain_rollup(spark, src, rol, ["day", "grp"], "v")
    ivm.maintain_rollup_from_rollup(spark, rol, child, {"grp": "grp"})
    server.engine.register_snapshot_table("hist_src", src)
    server.engine.register_rollup(
        "hist_src", "hist_daily", rol, ["day", "grp"], "v"
    )
    server.engine.register_rollup(
        "hist_src", "hist_by_grp", child, ["grp"], "v", parent_dir=rol
    )
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(100, 1, "g0", 7)],
                              ["k", "day", "grp", "v"]),
        key="k",
    )
    _time.sleep(0.02)  # wall-clock ledger: keep commits ordered
    ivm.maintain_rollup(spark, src, rol, ["day", "grp"], "v")
    ivm.maintain_rollup_from_rollup(spark, rol, child, {"grp": "grp"})

    status, _, hist = _get(server, "/table/hist_src/rollups/history")
    assert status == 200
    by_name = {h["rollup"]: h for h in hist}
    daily = by_name["hist_daily"]
    assert daily["feed"] == "source" and daily["n_ticks"] == 2
    assert [t["applied_feed_version"] for t in daily["ticks"]] == [0, 1]
    assert all(t["lag_commits"] == 0 for t in daily["ticks"])
    assert daily["last_applied"] == 1
    child_h = by_name["hist_by_grp"]
    assert child_h["feed"] == "parent" and child_h["n_ticks"] == 2
    # the child's stamps are PARENT-rollup versions
    assert [t["applied_feed_version"] for t in child_h["ticks"]] == [0, 1]

    # a late-committing tick: planned at feed v1, lands after the
    # feed moved to v2 — the ledger must show the lag
    SN.merge_snapshot(
        spark, src,
        spark.createDataFrame([(101, 2, "g1", 8)],
                              ["k", "day", "grp", "v"]),
        key="k",
    )
    _time.sleep(0.02)
    SN.merge_snapshot(
        spark, rol,
        spark.createDataFrame([(1, "g0", 99, 99)],
                              ["day", "grp", "n_rows", "sum_val"]),
        key=["day", "grp"], op="ivm:src_v1",
    )
    _, _, hist2 = _get(server, "/table/hist_src/rollups/history")
    late = [
        t
        for h in hist2
        if h["rollup"] == "hist_daily"
        for t in h["ticks"]
    ][-1]
    assert late["applied_feed_version"] == 1
    assert late["feed_version_at_apply"] == 2
    assert late["lag_commits"] == 1
    # unknown table fails closed
    assert _get(server, "/table/nope/rollups/history")[0] == 400


def test_aggregate_having_and_count_col_over_http(
    server, spark, tmp_path_factory
):
    """r9 parity: the structured /aggregate surface accepts the same
    HAVING tier and NOT-NULL-gated COUNT(col) as the /sql rewrite —
    rollup-answered, with the filter applied to values the rollup
    reproduces exactly, and unproven COUNT(col) refused (even the
    base tier counts rows, so serving it loosely would be wrong)."""
    import time as _time
    import urllib.parse as _up

    from ensembl_lakehouse_spark import ivm
    from ensembl_lakehouse_spark import snapshots as SN

    base = tmp_path_factory.mktemp("mv_having")
    src, rol = str(base / "src"), str(base / "rol")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(i, f"g{i % 3}", i) for i in range(30)], ["k", "grp", "val"]
        ),
    )
    SN.add_constraint(spark, src, "val_nn", "val IS NOT NULL")
    ivm.maintain_rollup(spark, src, rol, ["grp"], "val")
    server.engine.register_snapshot_table("hav_src", src)
    server.engine.register_rollup("hav_src", "hav_by_grp", rol, ["grp"], "val")

    def submit(qs):
        status, _, resp = _get(server, f"/table/hav_src/aggregate?{qs}")
        return status, resp

    def rows_of(qid):
        for _ in range(120):
            st = _get(server, f"/query/{qid}/status")[2]
            if st["status"] in ("SUCCEEDED", "FAILED"):
                break
            _time.sleep(0.5)
        assert st["status"] == "SUCCEEDED"
        prev = _get(server, f"/query/{qid}/preview?max_results=50")[2]
        return [
            [c.get("VarCharValue") for c in r["Data"]]
            for r in prev["Rows"]
        ][1:]  # drop the header row

    aggs = _up.quote("n=count,total=sum:val")
    status, unfiltered = submit(f"group_by=grp&aggs={aggs}")
    assert status == 200 and unfiltered["answered_by"] == "hav_by_grp"
    all_rows = rows_of(unfiltered["query_id"])

    status, filtered = submit(
        f"group_by=grp&aggs={aggs}&having=total:gt:140"
    )
    assert status == 200 and filtered["answered_by"] == "hav_by_grp"
    got = rows_of(filtered["query_id"])
    want = [r for r in all_rows if int(r[2]) > 140]
    assert sorted(got) == sorted(want)
    assert 0 < len(got) < len(all_rows)  # the filter actually cut

    # distinct cache identity per having shape
    assert filtered["query_id"] != unfiltered["query_id"]

    # COUNT(col): proven NOT NULL -> answered; unproven -> 400 + hint
    status, resp = submit(
        "group_by=grp&aggs=" + _up.quote("nv=count:val")
    )
    assert status == 200 and resp["answered_by"] == "hav_by_grp"
    assert sorted(rows_of(resp["query_id"])) == sorted(
        [r[0], r[1]] for r in all_rows
    )  # == COUNT(*) under the proof (row SET — output order is not
    # guaranteed across separate jobs)
    status, resp = submit("group_by=grp&aggs=" + _up.quote("nk=count:k"))
    assert status == 400
    assert "NOT NULL" in resp["detail"]

    # bad having shapes fail closed
    for bad in (
        "having=total:gt",            # missing value
        "having=nope:gt:1",           # unknown alias
        "having=total:between:1",     # unknown op
    ):
        status, resp = submit(f"group_by=grp&aggs={aggs}&{bad}")
        assert status == 400, bad

    # estimate-tier measures are never filterable
    aggs_u = _up.quote("u=approx_distinct:val")
    status, resp = submit(f"group_by=grp&aggs={aggs_u}&having=u:gt:1")
    assert status == 400 and "estimate-tier" in resp["detail"]


def test_aggregate_params_doc_and_ambiguous_range_400(
    server, spark, tmp_path_factory
):
    """r9 VERDICT #6: the bare lo..hi range form is parsed only for
    range-TYPED columns — on a string column it is ambiguous with a
    literal containing '..' and must 400 toward col:eq:; the grammar
    is discoverable at /table/{name}/aggregate/params like
    /analytics/{name}/params."""
    from ensembl_lakehouse_spark import snapshots as SN

    base = tmp_path_factory.mktemp("rng_http")
    src = str(base / "src")
    SN.write_snapshot(
        src,
        spark.createDataFrame(
            [(1, "2024..2025", 5), (2, "x", 7)],
            ["k", "period", "val"],
        ),
    )
    server.engine.register_snapshot_table("rng_src", src)

    status, _, doc = _get(server, "/table/rng_src/aggregate/params")
    assert status == 200
    assert "eq:value" in doc["filter"]
    assert "numeric/date/timestamp" in doc["filter"]
    assert _get(server, "/table/nope/aggregate/params")[0] == 400

    # string column + lo..hi → 400 with the eq: hint
    status, _, err = _get(
        server,
        "/table/rng_src/aggregate?aggs=n%3Dcount"
        "&filter=period%3A2024..2025",
    )
    assert status == 400
    assert "eq:value" in err["detail"]
    import time as _time

    def _count(qs):
        status, _, resp = _get(server, f"/table/rng_src/aggregate?{qs}")
        assert status == 200, resp
        qid = resp["query_id"]
        for _ in range(120):
            st = _get(server, f"/query/{qid}/status")[2]
            if st["status"] in ("SUCCEEDED", "FAILED"):
                break
            _time.sleep(0.5)
        assert st["status"] == "SUCCEEDED"
        _, _, prev = _get(server, f"/query/{qid}/preview?maxResults=5")
        return prev["Rows"][1]["Data"][0]["VarCharValue"]

    # the explicit form matches the literal that CONTAINS dots
    assert _count("aggs=n%3Dcount&filter=period%3Aeq%3A2024..2025") == "1"
    # numeric ranges still parse positionally
    assert _count("aggs=n%3Dcount&filter=val%3A5..7") == "2"
    # explicit BETWEEN is the string-range escape hatch (the user
    # SAYS it is a range, so any orderable type is fine)
    assert _count("aggs=n%3Dcount&filter=period%3Abetween%3Aa%3Az") == "1"


def test_between_with_colon_bearing_bounds_is_400(
    server, spark, tmp_path_factory
):
    from ensembl_lakehouse_spark import snapshots as SN

    src = str(tmp_path_factory.mktemp("btw") / "src")
    SN.write_snapshot(
        src, spark.createDataFrame([(1, "a")], "k int, x string")
    )
    server.engine.register_snapshot_table("btw_src", src)
    status, _, err = _get(
        server,
        "/table/btw_src/aggregate?aggs=n%3Dcount"
        "&filter=x%3Abetween%3Aa%3Ab%3Ac",
    )
    assert status == 400
    assert "exactly one" in err["detail"]
