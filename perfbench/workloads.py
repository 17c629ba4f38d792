"""The three workloads: each is a closed loop with one client driving
the embedded ``Engine`` (and the ``snapshots``/``ivm`` functions) from
this process.

A workload object is built once per run and then driven by
``run.py``: ``setup_round`` several times (only the last round's
engine is kept), ``prepare`` and ``warmup`` once, then a fixed number
of whole units of its request stream. ``run_unit``
returns one ``Op`` per operation; checks too heavy for the window run
in ``check`` afterwards.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import checks
import streams
import spans as tr


@dataclass
class Op:
    latency_s: float
    ok: bool = True
    #: rows the operation wrote (results, exports or upserted rows)
    rows_written: int = 0
    #: deferred-check payload
    detail: dict = field(default_factory=dict)


class Workload:
    name = ""
    #: a stream unit's nominal duration in seconds on a 4-core host
    UNIT_S = 1.0
    #: tables the workload registers in the catalog
    tables: tuple[str, ...] = ()

    def __init__(self, spark, data_dir: str, run_dir: str, seed: int, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = tracer
        self.engine = None
        self.problems: list[str] = []
        #: checks not tied to a timed operation (llm_batch's oracle pass)
        self.extra_attempted = 0
        self.extra_failed = 0

    # -- set-up ------------------------------------------------------

    def setup_round(self, index: int) -> dict[str, float]:
        """Build a fresh engine in its own work dir; returns the
        round's per-layer set-up times in seconds."""
        from ensembl_lakehouse_spark.engine import Engine

        if self.engine is not None:
            self.engine.close()
        self.work_dir = os.path.join(self.run_dir, f"round{index}")
        t0 = time.perf_counter()
        self.engine = Engine(self.spark, work_dir=os.path.join(self.work_dir, "engine"))
        self.engine.catalog.register_dir(self.data_dir, tables=self.tables)
        return {"catalog.register_s": time.perf_counter() - t0}

    def prepare(self) -> dict[str, float]:
        """Build the workload's base state on the kept engine, once per
        run; returns its per-layer set-up times in seconds."""
        return {}

    def write_dirs(self) -> list[str]:
        """Directories whose growth the window's written bytes count."""
        return [os.path.join(self.work_dir, "engine")]

    def warmup(self) -> None:
        raise NotImplementedError

    def reset_counters(self) -> None:
        """Start a fresh count for the next window's per-layer metrics."""

    def units(self):
        """The timed request stream, as an iterator of units."""
        raise NotImplementedError

    def run_unit(self, unit) -> list[Op]:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> None:
        """Deferred checks; mark failing ops ``ok=False``."""

    def per_layer(self, win) -> dict[str, float]:
        """Per-layer metrics of the traced window ``win``."""
        return {}

    def job_counts(self, jobs: list[dict]) -> dict[str, float]:
        """Per-layer metrics read from Spark's event log."""
        return {}

    def _wait(self, query_id: str):
        with self.tracer.span("service.jobs.wait"):
            return self.engine.registry.wait(query_id, timeout=170)

    def _fail(self, op: Op, why: str) -> None:
        op.ok = False
        if len(self.problems) < 20:
            self.problems.append(f"{self.name}: {why}")


# -- lookup ---------------------------------------------------------


class Lookup(Workload):
    """Reference-parity interactive reads: submit, wait, status,
    preview; some requests export, some repeat an earlier request in
    another spelling and are answered by the semantic cache."""

    name = "lookup"
    tables = ("lineitem", "orders")
    UNIT_S = 4.5
    MAX_BLOCKS = 100
    WARMUP_BLOCKS = 1

    def __init__(self, *args):
        super().__init__(*args)
        n_orders = _parquet_rows(os.path.join(self.data_dir, "orders.parquet"))
        self.stream = streams.lookup_stream(self.seed, self.MAX_BLOCKS, n_orders)
        self.query_ids: dict[int, str] = {}
        self.seen: set[str] = set()
        self.reset_counters()

    def reset_counters(self) -> None:
        self.hits = 0
        self.misses = 0

    def _block(self, b: int) -> list:
        n = len(streams.BLOCK_KINDS)
        return list(enumerate(self.stream[b * n:(b + 1) * n], b * n))

    def warmup(self) -> None:
        for b in range(self.WARMUP_BLOCKS):
            self.run_unit(self._block(b))

    def units(self):
        for b in range(self.WARMUP_BLOCKS, self.MAX_BLOCKS):
            yield self._block(b)

    def run_unit(self, unit) -> list[Op]:
        return [self._one(i, req) for i, req in unit]

    def _one(self, index: int, req: streams.LookupRequest) -> Op:
        eng = self.engine
        t0 = time.perf_counter()
        with self.tracer.span("lookup.op"):
            with self.tracer.span("engine.submit_query"):
                qid = eng.submit_query(req.table, req.key_value, req.fields, req.condition)["query_id"]
            handle = self._wait(qid)
            status = eng.query_status(qid)
            with self.tracer.span("service.preview"):
                preview = eng.query_preview(qid, 26)
            export = None
            if req.export_format is not None:
                with self.tracer.span(f"service.export.{req.export_format}"):
                    eng.export(qid, req.export_format)
                    eng.exports.wait_all()
                    export = eng.export(qid, req.export_format)
        op = Op(time.perf_counter() - t0, detail={"req": req, "qid": qid, "status": status})
        hit = qid in self.seen
        self.seen.add(qid)
        self.query_ids[index] = qid
        self.hits += hit
        self.misses += not hit
        if req.kind == "plain":
            self.last_plain_qid = qid
        if (req.kind == "repeat") != hit:
            self._fail(op, f"request {index} ({req.kind}) cache {'hit' if hit else 'miss'}")
        if handle.state != "SUCCEEDED" or status.get("status") != "SUCCEEDED":
            self._fail(op, f"request {index} ended {handle.state}")
            return op
        if req.kind == "repeat" and qid != self.query_ids.get(req.repeats):
            self._fail(op, f"repeat {index} answered by another query")
        header, rows = checks.preview_table(preview)
        key_col = streams.LOOKUP_TABLES[req.table][0]
        col, lo, hi = req.key_range
        for row in rows:
            if row[header.index(key_col)] != req.key_value or not (
                lo <= int(row[header.index(col)]) < hi
            ):
                self._fail(op, f"request {index} preview row {row} outside its condition")
                break
        if export is not None and not (
            export.get("status") == "DONE" and checks.path_bytes(export["result"]) > 0
        ):
            self._fail(op, f"request {index} export {req.export_format}: {export}")
        return op

    def check(self, ops: list[Op]) -> None:
        data = {t: os.path.join(self.data_dir, f"{t}.parquet") for t in self.tables}
        for op in ops:
            if not op.ok:
                continue
            req = op.detail["req"]
            base = req if req.repeats is None else self.stream[req.repeats]
            _, rows = checks.csv_result_rows(op.detail["status"]["result"])
            key_col = streams.LOOKUP_TABLES[base.table][0]
            want = checks.lookup_count(data[base.table], key_col, base.key_value, base.condition)
            if rows != want:
                self._fail(op, f"{req.table} {req.condition!r}: {rows} rows, DuckDB {want}")
            if req.kind != "repeat":
                op.rows_written = rows * (2 if req.export_format else 1)

    def per_layer(self, win) -> dict[str, float]:
        t = self.tracer
        out = {
            "query.build_df_ms": t.mean_ms("query.build_df"),
            "plans.cache_key_ms": t.mean_ms("plans.canonical.cache_key"),
            "service.jobs.submit_ms": t.mean_ms("service.jobs.submit"),
            "service.jobs.wait_ms": t.mean_ms("service.jobs.wait"),
            "service.preview_ms": t.mean_ms("service.preview"),
            "service.cache.hit_ratio": self.hits / max(1, self.hits + self.misses),
        }
        for fmt in streams.EXPORT_FORMATS:
            out[f"service.export.{fmt}_ms"] = t.mean_ms(f"service.export.{fmt}")
        return out

    def probe_exports(self) -> None:
        """Traced run only: export the last plain query once in each
        format the window did not cover, so every format has a span."""
        qid = self.last_plain_qid
        for fmt in streams.EXPORT_FORMATS:
            if not self.tracer.durations_ms(f"service.export.{fmt}"):
                with self.tracer.span(f"service.export.{fmt}"):
                    self.engine.export(qid, fmt)
                    self.engine.exports.wait_all()


# -- curation -------------------------------------------------------


GROUP_COLS = ["o_orderstatus", "o_orderpriority"]


class Curation(Workload):
    """Write path next to the read path: MERGE an upsert batch into a
    clustered, bloom-indexed snapshot table, maintain its rollup,
    answer a strict aggregate through the rollup rewrite, and point-
    read the new version by a bloom-indexed key."""

    name = "curation"
    tables = ()
    UNIT_S = 6.0
    MAX_CYCLES = 120

    def __init__(self, *args):
        super().__init__(*args)
        self.n_orders = _parquet_rows(os.path.join(self.data_dir, "orders.parquet"))
        self.stream = streams.curation_stream(self.seed, self.MAX_CYCLES + 1, self.n_orders)

    def prepare(self) -> dict[str, float]:
        from ensembl_lakehouse_spark import ivm, snapshots as SN

        out = {}
        self.table_dir = os.path.join(self.work_dir, "orders_snap")
        self.rollup_dir = os.path.join(self.work_dir, "orders_by_status")
        t0 = time.perf_counter()
        base = self.spark.read.parquet(os.path.join(self.data_dir, "orders.parquet"))
        SN.write_snapshot(
            self.table_dir, base, cluster_by=["o_orderkey"], n_files=8,
            bloom_for=["o_custkey"],
        )
        t1 = time.perf_counter()
        ivm.maintain_rollup(self.spark, self.table_dir, self.rollup_dir, GROUP_COLS, "o_totalprice")
        t2 = time.perf_counter()
        self.engine.register_snapshot_table("orders_snap", self.table_dir)
        self.engine.register_rollup(
            "orders_snap", "orders_by_status", self.rollup_dir, GROUP_COLS, "o_totalprice"
        )
        self.schema = base.schema
        out["snapshots.base_write_s"] = t1 - t0
        out["ivm.initial_build_s"] = t2 - t1
        out["catalog.register_s"] = time.perf_counter() - t2
        return out

    def write_dirs(self) -> list[str]:
        return [self.table_dir, self.rollup_dir]

    def warmup(self) -> None:
        self.run_unit(self.stream[0])

    def units(self):
        return iter(self.stream[1:])

    def _updates(self, cycle: streams.CurationCycle):
        from pyspark.sql import functions as F

        df = self.spark.createDataFrame(
            cycle.rows,
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate bigint, o_orderpriority string",
        )
        return df.select(
            *(
                (F.timestamp_seconds(F.col(f.name)) if f.name == "o_orderdate" else F.col(f.name))
                .cast(f.dataType).alias(f.name)
                for f in self.schema.fields
            )
        )

    def run_unit(self, cycle: streams.CurationCycle) -> list[Op]:
        from ensembl_lakehouse_spark import ivm, snapshots as SN

        eng, t = self.engine, self.tracer
        t0 = time.perf_counter()
        with t.span("curation.op"):
            with t.span("snapshots.merge"):
                version = SN.merge_snapshot(
                    self.spark, self.table_dir, self._updates(cycle), "o_orderkey",
                    scope_by="o_orderkey", bloom_for=["o_custkey"],
                )
            with t.span("ivm.maintain_rollup"):
                ivm.maintain_rollup(
                    self.spark, self.table_dir, self.rollup_dir, GROUP_COLS, "o_totalprice"
                )
            with t.span("service.aggregate"):
                resp = eng.submit_table_aggregate(
                    "orders_snap", ",".join(GROUP_COLS), "n=count,s=sum:o_totalprice"
                )
                handle = self._wait(resp["query_id"])
                preview = eng.query_preview(resp["query_id"], 26)
            with t.span("snapshots.point_read"):
                points = SN.read_snapshot(
                    self.spark, self.table_dir, where_eq=("o_custkey", cycle.probe_custkey)
                ).collect()
        op = Op(time.perf_counter() - t0, rows_written=len(cycle.rows))
        keep, total = SN.files_for_point(self.table_dir, "o_custkey", cycle.probe_custkey, version)
        files = [
            f.removeprefix("file:")
            for f in SN.read_snapshot(self.spark, self.table_dir, version=version).inputFiles()
        ]
        op.detail = {
            "version": version, "resp": resp, "preview": preview, "state": handle.state,
            "points": points, "custkey": cycle.probe_custkey, "files": files,
            "point_files": len(keep), "live_files": total,
        }
        return [op]

    def check(self, ops: list[Op]) -> None:
        for op in ops:
            d = op.detail
            if d["state"] != "SUCCEEDED":
                self._fail(op, f"aggregate at v{d['version']} ended {d['state']}")
                continue
            if d["resp"].get("answered_by") != "orders_by_status":
                self._fail(op, f"aggregate at v{d['version']} answered by {d['resp'].get('answered_by')}")
            header, rows = checks.preview_table(d["preview"])
            got = {
                (r[header.index("o_orderstatus")], r[header.index("o_orderpriority")]):
                (int(r[header.index("n")]), int(r[header.index("s")]))
                for r in rows
            }
            want = checks.rollup_groups(d["files"])
            if got != want:
                self._fail(op, f"aggregate at v{d['version']} differs from DuckDB")
            n_point = checks.custkey_count(d["files"], d["custkey"])
            if len(d["points"]) != n_point or any(
                r["o_custkey"] != d["custkey"] for r in d["points"]
            ):
                self._fail(op, f"point read of {d['custkey']}: {len(d['points'])} rows, DuckDB {n_point}")

    def per_layer(self, win) -> dict[str, float]:
        from ensembl_lakehouse_spark import snapshots as SN

        t, ops = self.tracer, win.ops
        n = max(1, len(ops))
        return {
            "snapshots.merge_ms": t.mean_ms("snapshots.merge"),
            "ivm.maintain_rollup_ms": t.mean_ms("ivm.maintain_rollup"),
            "service.aggregate_ms": t.mean_ms("service.aggregate"),
            "plans.rewrite.rollup_answer_frac": sum(
                o.detail["resp"].get("answered_by") == "orders_by_status" for o in ops
            ) / n,
            "snapshots.point_read_ms": t.mean_ms("snapshots.point_read"),
            "snapshots.files_read_per_point": sum(
                o.detail["point_files"] / max(1, o.detail["live_files"]) for o in ops
            ) / n,
            "snapshots.bytes_written_per_commit": win.written / n,
            "snapshots.write_bytes_per_row": win.written / max(1, sum(o.rows_written for o in ops)),
            "snapshots.live_files_end": float(ops[-1].detail["live_files"]),
            "snapshots.versions_end": float(len(SN.history(self.table_dir))),
            "snapshots.table_dir_bytes_end": float(checks.dir_bytes(self.table_dir)),
        }


# -- llm_batch ------------------------------------------------------


class LlmBatch(Workload):
    """Throughput of the LLM-data-pipeline operators through the
    analytics endpoint; every request carries seeded non-default
    params, so every request misses the cache."""

    name = "llm_batch"
    tables = ("documents", "embeddings")
    UNIT_S = 8.0
    MAX_PASSES = 8

    def __init__(self, *args):
        super().__init__(*args)
        stream = streams.llm_stream(self.seed, self.MAX_PASSES)
        n = len(streams.LLM_OPERATORS)
        self.passes = [stream[i:i + n] for i in range(0, len(stream), n)]
        self.pass_no = 0
        self.reset_counters()

    def reset_counters(self) -> None:
        self.build_groups: dict[str, list[str]] = {}
        self.exec_groups: dict[str, list[str]] = {}

    def warmup(self) -> None:
        """One pass at default params; its results are the ones the
        oracle check compares against DuckDB."""
        self.default_handles = {}
        for name in streams.LLM_OPERATORS:
            qid = self.engine.submit_analytics(name, self.data_dir)["query_id"]
            self.default_handles[name] = self.engine.registry.wait(qid, timeout=170)

    def units(self):
        return iter(self.passes)

    def run_unit(self, unit) -> list[Op]:
        sc = self.spark.sparkContext
        ops = []
        self.pass_no += 1
        for name, params in unit:
            group = f"perfbench:build:{name}:{self.pass_no}"
            t0 = time.perf_counter()
            with self.tracer.span("llm.op"):
                if self.tracer.enabled:
                    sc.setJobGroup(group, group)
                with self.tracer.span(f"operators.{name}.build"):
                    qid = self.engine.submit_analytics(name, self.data_dir, params)["query_id"]
                if self.tracer.enabled:
                    sc.setJobGroup("", "")
                with self.tracer.span(f"operators.{name}.exec"):
                    handle = self._wait(qid)
            op = Op(time.perf_counter() - t0, detail={"name": name, "params": params, "handle": handle})
            self.build_groups.setdefault(name, []).append(group)
            self.exec_groups.setdefault(name, []).append(qid)
            if handle.state != "SUCCEEDED":
                self._fail(op, f"{name} {params} ended {handle.state}")
            ops.append(op)
        return ops

    def check(self, ops: list[Op]) -> None:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        columns = {}
        for name, handle in self.default_handles.items():
            self.extra_attempted += 1
            if handle.state != "SUCCEEDED":
                problems = [f"default pass ended {handle.state}"]
            else:
                columns[name] = handle.df.columns
                problems = checks.oracle_problems(
                    self.data_dir, name, handle.result_path, oracles[name]
                )
            self.extra_failed += bool(problems)
            self.problems.extend(f"{name} oracle: {p}" for p in problems)
        for op in ops:
            if not op.ok:
                continue
            name = op.detail["name"]
            header, rows = checks.csv_result_rows(op.detail["handle"].result_path)
            op.rows_written = rows
            if rows == 0 or header != columns.get(name):
                self._fail(op, f"{name} {op.detail['params']}: {rows} rows, columns {header}")

    def per_layer(self, win) -> dict[str, float]:
        return {
            f"operators.{name}.{phase}_ms": self.tracer.mean_ms(f"operators.{name}.{phase}")
            for name in streams.LLM_OPERATORS
            for phase in ("build", "exec")
        }

    def job_counts(self, jobs: list[dict]) -> dict[str, float]:
        out = {}
        for name in streams.LLM_OPERATORS:
            for phase, groups in (("build", self.build_groups), ("exec", self.exec_groups)):
                gs = groups.get(name, [])
                out[f"operators.{name}.{phase}_jobs"] = (
                    sum(tr.jobs_in_group(jobs, g) for g in gs) / len(gs) if gs else 0.0
                )
        return out


WORKLOADS = {w.name: w for w in (Lookup, Curation, LlmBatch)}

#: table scale factor each workload runs at
SCALE = {"lookup": 0.1, "curation": 0.1, "llm_batch": 0.01}


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows
