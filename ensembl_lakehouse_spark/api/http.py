"""The reference's public HTTP contract on the std-lib http.server.

Mirrors app/main.py's eight endpoints (SURVEY §2.2), the HAL
``_links`` envelope (app/main.py:492-500, including
``supported_file_formats`` on the export link :497-500), the
per-request ``X-Correlation-ID`` middleware (:32-43), the Athena
query-id shape validation (:70-76), and the reference's error
strings/status codes (:201-202, :276, :330-333, :409).

No FastAPI/Flask in this container, and none needed: the layer is a
deliberately thin adapter — every semantic lives in ``Engine``
(engine.py), this module only routes, serializes, and maps
exceptions to the reference's wire behavior. A deployment with
FastAPI available can lift the same ROUTES table into a router in
~50 lines; nothing else changes.

Threading note: ThreadingHTTPServer serves each request on its own
thread; Engine/Catalog/Registry are already thread-safe (KVCache
lock, registry lock), and Spark job submission is thread-safe by
design (one SparkContext, many job groups).
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from ensembl_lakehouse_spark.engine import Engine
from ensembl_lakehouse_spark.query import QueryValidationError
from ensembl_lakehouse_spark.service.export import (
    SUPPORTED_FILE_FORMATS,
    QueryNotSucceeded,
    UnsupportedFormat,
)
from ensembl_lakehouse_spark.service.jobs import is_valid_query_id

# Query-id shape validation is the registry's contract — one
# definition (service/jobs.py) so the HTTP 400 check can never drift
# from the InvalidQueryId mapping.
_is_query_id = is_valid_query_id


def make_handler(engine: Engine):
    """Build a request-handler class bound to ``engine``."""

    class Handler(BaseHTTPRequestHandler):
        server_version = "ensembl-lakehouse-spark"

        # -- plumbing --------------------------------------------------

        def log_message(self, fmt, *args):  # quiet test output
            pass

        def _send(self, status: int, payload, content_type="application/json"):
            body = json.dumps(payload).encode() if not isinstance(payload, bytes) else payload
            self.send_response(status)
            # X-Correlation-ID on every response (app/main.py:32-43).
            self.send_header("X-Correlation-ID", str(uuid.uuid4()))
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(body)))
            # CORS allow-all (app/main.py:25-29).
            self.send_header("Access-Control-Allow-Origin", "*")
            self.end_headers()
            self.wfile.write(body)

        def _detail(self, status: int, message: str):
            self._send(status, {"detail": message})

        # -- routing ---------------------------------------------------

        def do_GET(self):  # noqa: N802 (http.server API)
            url = urlparse(self.path)
            parts = [unquote(p) for p in url.path.split("/") if p]
            q = {k: v[0] for k, v in parse_qs(url.query).items()}
            try:
                self._route(parts, q)
            except QueryValidationError as exc:
                self._detail(400, str(exc))
            except KeyError as exc:
                self._detail(404, str(exc.args[0]) if exc.args else "not found")
            except UnsupportedFormat as exc:
                self._detail(422, str(exc))
            except QueryNotSucceeded as exc:
                self._detail(400, str(exc))
            except Exception as exc:  # 500 with detail, never a hang
                self._detail(500, f"{type(exc).__name__}: {exc}")

        def _route(self, parts: list[str], q: dict[str, str]) -> None:
            if not parts:
                self._send(200, {"message": engine.banner()})
            elif parts == ["download"]:
                self._download(q)
            elif parts == ["data_types"]:
                self._send(200, engine.data_types())
            elif parts == ["result_file_formats"]:
                self._send(200, engine.result_file_formats())
            elif len(parts) == 2 and parts[0] == "filters":
                self._filters(parts[1])
            elif len(parts) == 3 and parts[0] == "query" and parts[2] in (
                "status",
                "preview",
                "export",
            ):
                self._query_sub(parts[1], parts[2], q)
            elif len(parts) == 3 and parts[0] == "query":
                self._submit(parts[1], parts[2], q)
            elif parts == ["sql", "explain"]:
                # EXT: EXPLAIN for the raw-SQL surface — formatted
                # physical plan + its structural summary
                # (shuffles/broadcasts/joins/PushedFilters);
                # same validation as /sql, nothing executes
                if "query" not in q:
                    self._detail(400, "missing query parameter")
                    return
                self._send(
                    200,
                    engine.explain_sql(
                        q["query"],
                        q.get("snap_versions", ""),
                        q.get("rewrite", "on"),
                        q.get("freshness", "strict"),
                    ),
                )
            elif parts == ["sql"]:
                # EXT: raw read-only SQL (Athena StartQueryExecution
                # parity) — DDL/DML is refused at the parser inside
                # submit_sql, so nothing side-effecting runs.
                if "query" not in q:
                    self._detail(400, "missing query parameter")
                    return
                self._send(
                    200,
                    engine.submit_sql(
                        q["query"],
                        q.get("snap_versions", ""),
                        q.get("rewrite", "on"),
                        q.get("freshness", "strict"),
                    ),
                )
            elif parts == ["analytics"]:
                # EXT: the operator-library listing (no reference
                # twin — its API stops at single-table SELECTs).
                self._send(200, engine.analytics_names())
            elif (
                len(parts) == 3
                and parts[0] == "analytics"
                and parts[2] == "params"
            ):
                # EXT: per-operator parameter discovery (accepted
                # keys + oracle-pinned defaults; {} = none accepted)
                self._send(200, engine.analytics_params(parts[1]))
            elif (
                len(parts) == 3
                and parts[0] == "analytics"
                and parts[2] == "plan"
            ):
                # EXT: EXPLAIN for a named operator — same wire
                # shape as /sql/explain, built from the operator's
                # plan without submitting it (sf_dir allowlisted
                # like the submit route)
                sf_dir = q.get("sf_dir", self.server.default_sf_dir)
                if sf_dir not in self.server.allowed_sf_dirs:
                    self._detail(
                        400,
                        "sf_dir not in the server's allowlist; configure "
                        "ApiServer(allowed_sf_dirs=[...]) to expose more",
                    )
                    return
                params = {k: v for k, v in q.items() if k != "sf_dir"}
                self._send(
                    200,
                    engine.explain_analytics(
                        parts[1], sf_dir, params or None
                    ),
                )
            elif len(parts) == 2 and parts[0] == "analytics":
                # sf_dir is allowlisted: a raw path from the query
                # string would let any HTTP client point Spark at an
                # arbitrary local directory and exfiltrate it through
                # preview/export/download.
                sf_dir = q.get("sf_dir", self.server.default_sf_dir)
                if sf_dir not in self.server.allowed_sf_dirs:
                    self._detail(
                        400,
                        "sf_dir not in the server's allowlist; configure "
                        "ApiServer(allowed_sf_dirs=[...]) to expose more",
                    )
                    return
                # every other query-string key is a per-request
                # operator parameter — validated fail-closed by
                # service/params.py inside submit_analytics
                params = {k: v for k, v in q.items() if k != "sf_dir"}
                resp = engine.submit_analytics(parts[1], sf_dir, params or None)
                self._send(200, resp)
            elif parts == ["table"]:
                # EXT: registered snapshot tables (the CDC surface;
                # registration is operator-side only — see
                # Engine.register_snapshot_table)
                self._send(200, engine.snapshot_table_names())
            elif len(parts) == 2 and parts[0] == "table":
                # EXT: table summary (versions, published pointer,
                # tags, constraints)
                self._send(200, engine.table_summary(parts[1]))
            elif len(parts) == 3 and parts[0] == "table" and parts[2] == "history":
                self._send(200, engine.table_history(parts[1]))
            elif len(parts) == 3 and parts[0] == "table" and parts[2] == "tags":
                self._send(200, engine.table_tags(parts[1]))
            elif (
                len(parts) == 4
                and parts[0] == "table"
                and parts[2] == "rollups"
                and parts[3] == "history"
            ):
                # EXT: MV freshness HISTORY — the maintenance ledger
                # per rollup (every tick with its applied feed
                # version and lag-at-apply); zero Spark jobs
                self._send(200, engine.table_rollups_history(parts[1]))
            elif len(parts) == 3 and parts[0] == "table" and parts[2] == "rollups":
                # EXT: MV freshness dashboard — which registered
                # rollups would answer /aggregate right now, and why
                # the others would not; zero Spark jobs
                self._send(200, engine.table_rollups_report(parts[1]))
            elif len(parts) == 3 and parts[0] == "table" and parts[2] == "retention":
                # EXT: vacuum dry-run — how many bytes old versions
                # still pin (the erasure-SLA sizing report)
                try:
                    keep = int(q.get("keep_versions", "2"))
                except ValueError:
                    self._detail(400, "keep_versions must be an integer")
                    return
                self._send(200, engine.table_retention_report(parts[1], keep))
            elif len(parts) == 3 and parts[0] == "table" and parts[2] == "maintenance":
                # EXT: read-only ops dashboard — compaction + vacuum
                # dry-runs, rowcount, pointers; zero Spark jobs
                try:
                    tb = int(q.get("target_bytes", str(128 * 1024 * 1024)))
                    keep = int(q.get("keep_versions", "2"))
                except ValueError:
                    self._detail(
                        400, "target_bytes/keep_versions must be integers"
                    )
                    return
                self._send(
                    200,
                    engine.table_maintenance_report(parts[1], tb, keep),
                )
            elif (
                len(parts) == 4
                and parts[0] == "table"
                and parts[2] == "aggregate"
                and parts[3] == "params"
            ):
                # the structured-aggregate grammar, served over the
                # wire like /analytics/{name}/params (r9 VERDICT #6)
                self._send(200, engine.table_aggregate_params(parts[1]))
            elif len(parts) == 3 and parts[0] == "table" and parts[2] == "aggregate":
                # EXT: MV-rewrite aggregate — answered from a fresh
                # registered rollup when derivable, else base scan;
                # answered_by in the response keeps the rewrite
                # auditable from the wire
                if "aggs" not in q:
                    self._detail(400, "missing aggs parameter")
                    return
                resp = engine.submit_table_aggregate(
                    parts[1],
                    q.get("group_by", ""),
                    q["aggs"],
                    q.get("freshness", "strict"),
                    q.get("filter", ""),
                    q.get("having", ""),
                )
                self._send(200, resp)
            elif len(parts) == 3 and parts[0] == "table" and parts[2] == "changes":
                # EXT: CDC read — snapshot_diff(from, to, key) through
                # the async lifecycle; a downstream mirror polls this
                # and applies the MERGE feed
                if "from_version" not in q:
                    self._detail(400, "missing from_version parameter")
                    return
                try:
                    from_v = int(q["from_version"])
                    to_v = int(q["to_version"]) if "to_version" in q else None
                except ValueError:
                    self._detail(400, "versions must be integers")
                    return
                resp = engine.submit_table_changes(
                    parts[1], from_v, to_v, key=q.get("key")
                )
                self._send(200, resp)
            else:
                self._detail(404, "Not Found")

        # -- endpoints -------------------------------------------------

        def _download(self, q: dict[str, str]) -> None:
            """Serve a presigned result/artifact URL (S12 — the
            local analog of the reference's S3 presigned GET,
            app/main.py:272). 403 on bad/expired signature. Result
            *directories* (distributed csv/tsv/json writes) are
            served as one concatenated body, part headers deduped
            for csv/tsv."""
            import os

            path = q.get("path", "")
            if not engine.signer.verify(path, q.get("expires"), q.get("signature", "")):
                self._detail(403, "invalid or expired signature")
                return
            if os.path.isfile(path):
                with open(path, "rb") as fh:
                    self._send(200, fh.read(), content_type="application/octet-stream")
                return
            if os.path.isdir(path):
                parts_files = sorted(
                    os.path.join(path, f)
                    for f in os.listdir(path)
                    if f.startswith("part-")
                )
                dedupe_header = path.endswith((".csv", ".tsv")) or any(
                    f.endswith(".csv") for f in parts_files
                )
                chunks: list[bytes] = []
                for i, p in enumerate(parts_files):
                    with open(p, "rb") as fh:
                        data = fh.read()
                    if dedupe_header and i > 0 and b"\n" in data:
                        data = data.split(b"\n", 1)[1]
                    chunks.append(data)
                self._send(200, b"".join(chunks), content_type="application/octet-stream")
                return
            self._detail(404, "artifact not found")

        def _filters(self, data_type: str) -> None:
            if not data_type.strip():
                # 400 blank (app/main.py:201-202 error mapping).
                self._detail(400, "data_type must be non-blank")
                return
            if not engine.catalog.has_table(data_type):
                # Reference 404 string (app/main.py:201).
                self._detail(404, f"Selected data type: {data_type} does not exist!")
                return
            self._send(200, engine.filters(data_type))

        def _submit(self, data_type: str, species: str, q: dict[str, str]) -> None:
            resp = engine.submit_query(
                data_type, species, fields=q.get("fields"), condition=q.get("condition")
            )
            # HAL envelope with supported_file_formats on the export
            # link (app/main.py:492-500).
            qid = resp["query_id"]
            payload = {
                "query_id": qid,
                "_links": {
                    "self": {"href": f"/query/{data_type}/{species}"},
                    "status": {"href": f"/query/{qid}/status"},
                    "preview": {"href": f"/query/{qid}/preview"},
                    "export": {
                        "href": f"/query/{qid}/export{{?file_format}}",
                        "templated": True,
                        "supported_file_formats": list(SUPPORTED_FILE_FORMATS),
                    },
                },
            }
            self._send(200, payload, content_type="application/hal+json")

        def _query_sub(self, query_id: str, action: str, q: dict[str, str]) -> None:
            if not _is_query_id(query_id):
                # 400 bad id shape (app/main.py:70-76).
                self._detail(400, "Invalid query_id!")
                return
            try:
                if action == "status":
                    self._send(200, engine.query_status(query_id))
                elif action == "preview":
                    try:
                        n = int(q.get("maxResults", "26"))
                    except ValueError:
                        self._detail(400, "maxResults must be an integer")
                        return
                    if not 1 <= n <= 1000:
                        # Reference range check (app/main.py:406-409).
                        self._detail(400, "maxResults must be in [1, 1000]")
                        return
                    self._send(200, engine.query_preview(query_id, max_results=n))
                else:
                    resp = engine.export(query_id, q.get("file_format", ""))
                    status = 200 if resp["status"] == "DONE" else 202
                    self._send(status, resp)
            except KeyError:
                # Reference 404 string (app/main.py:276).
                self._detail(404, f"Query: {query_id} was not found!")

    return Handler


class ApiServer:
    """Threaded HTTP server wrapping an Engine; context-manageable.

    >>> with ApiServer(engine, port=0) as srv:
    ...     urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/data_types")
    """

    def __init__(
        self,
        engine: Engine,
        host: str = "127.0.0.1",
        port: int = 0,
        default_sf_dir: str | None = None,
        allowed_sf_dirs: list[str] | None = None,
    ):
        self._httpd = ThreadingHTTPServer((host, port), make_handler(engine))
        # default fixture dir for /analytics/{name} submissions when
        # the request carries no ?sf_dir= (EXT endpoint); follows the
        # suite-wide SPARK_GRAFT_TEST_SF_DIR convention. Requested
        # dirs are checked against an allowlist (default: only the
        # default dir) — see the routing comment.
        if default_sf_dir is None:
            default_sf_dir = os.environ.get(
                "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
            )
        self._httpd.default_sf_dir = default_sf_dir
        self._httpd.allowed_sf_dirs = set(
            allowed_sf_dirs if allowed_sf_dirs is not None else [default_sf_dir]
        )
        self.host = host
        self.port = self._httpd.server_address[1]
        #: the wrapped engine — exposed so an operator can manage
        #: catalog registrations (e.g. register_snapshot pins) on a
        #: live server without holding a separate reference
        self.engine = engine
        self._thread: threading.Thread | None = None

    def start(self) -> "ApiServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self) -> "ApiServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
