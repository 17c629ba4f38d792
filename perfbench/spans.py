"""Spans recorded from the benchmark's side of each layer boundary,
and Spark job metrics read back from Spark's event log.

The package is not edited: spans wrap the calls the benchmark makes
into each layer's public functions, and, where an inner layer is not
called directly (``query.build_df``, ``plans.canonical.cache_key``),
the module attribute the engine calls through is wrapped from
outside for the traced run only.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. A span is (op, name, start, end,
    parent index); a span opened with no span open on its thread starts
    a new operation, and its child spans share its ``op``."""

    enabled = True

    def __init__(self):
        self.spans: list[tuple[int, str, float, float, int | None]] = []
        self._local = threading.local()
        self.op = 0

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        if not stack:
            self.op += 1
        parent = stack[-1] if stack else None
        index = len(self.spans)
        self.spans.append((self.op, name, time.perf_counter(), 0.0, parent))
        stack.append(index)
        try:
            yield
        finally:
            stack.pop()
            op, _, t0, _, par = self.spans[index]
            self.spans[index] = (op, name, t0, time.perf_counter(), par)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        inner = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(owner, attr, traced)

    def durations_ms(self, name: str) -> list[float]:
        return [
            (t1 - t0) * 1000.0 for _, n, t0, t1, _ in self.spans if n == name
        ]

    def mean_ms(self, name: str) -> float:
        d = self.durations_ms(name)
        return sum(d) / len(d) if d else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for op, name, t0, t1, parent in self.spans:
                fh.write(
                    json.dumps(
                        {"op": op, "name": name, "start": t0, "end": t1,
                         "parent": parent}
                    )
                    + "\n"
                )


class NullTracer(Tracer):
    """Tracing off: spans cost one context-manager entry."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield


#: event-log accumulables summed per stage
_ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def spark_event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> list[dict]:
    """One record per Spark job: group id, submission time (epoch
    seconds), task count and the summed stage metrics. Call after the
    SparkContext stopped, which flushes the log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "submitted": ev["Submission Time"] / 1000.0,
                    }
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m: dict[str, float] = defaultdict(float)
                    m["tasks"] = info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        key = _ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            m[key] += float(acc.get("Value") or 0)
                    stages[info["Stage ID"]] = m
    for sid, m in stages.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is not None:
            for k, v in m.items():
                job[k] = job.get(k, 0.0) + v
    return list(jobs.values())


def storage_end(spark) -> tuple[float, float]:
    """(bytes held in memory, cached blocks) over every RDD the
    session still stores — checkpoint and cache blocks left behind."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mem = sum(float(i.memSize()) for i in infos)
    blocks = sum(float(i.numCachedPartitions()) for i in infos)
    return mem, blocks


def spark_window_metrics(
    jobs: list[dict], t0: float, t1: float, n_ops: int, cores: int
) -> dict[str, float]:
    """``spark.*`` per-layer metrics over the jobs submitted while a
    window (epoch seconds ``t0..t1``) ran."""
    win = [j for j in jobs if t0 <= j["submitted"] <= t1]
    total = defaultdict(float)
    for j in win:
        for k, v in j.items():
            if isinstance(v, (int, float)) and k != "submitted":
                total[k] += v
    per = max(1, n_ops)
    return {
        "spark.jobs_per_op": len(win) / per,
        "spark.tasks_per_op": total["tasks"] / per,
        "spark.task_cpu_ms_per_op": total["cpu_ns"] / 1e6 / per,
        "spark.gc_ms_per_op": total["gc_ms"] / per,
        "spark.input_bytes_per_op": total["input_bytes"] / per,
        "spark.shuffle_write_bytes_per_op": total["shuffle_write_bytes"] / per,
        "spark.spill_bytes": total["spill_bytes"],
        "spark.core_busy_frac": total["run_ms"] / 1000.0 / max(1e-9, (t1 - t0) * cores),
    }


def jobs_in_group(jobs: list[dict], group: str) -> int:
    return sum(1 for j in jobs if j["group"] == group)
