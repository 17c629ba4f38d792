"""Benchmark entry point: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is a record of the run (host, seed, sample
counts, failed checks). ``--trace 0`` reports the end-to-end metrics
of BENCHMARK.json, ``--trace 1`` its per-layer metrics. ``--smoke``
runs the same code on a tiny table set (scale 0.001).

The process sets its own hygiene before Spark starts: one Spark core
per CPU of the host, a 2 GB JVM heap, and every temporary file
(Spark local dirs, temp files, the engine's work dirs) under a fresh
run directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

import checks
import datagen
import metrics
import spans as tr
import stats
import workloads

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

#: engine set-up rounds per run; setup_s takes their median
SETUP_ROUNDS = 3


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("lookup", "curation", "llm_batch"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def _hygiene(run_dir: str) -> None:
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR on the next temp file


def _spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file outside the run dir
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(run_dir, "tmp"),
    }
    if trace:
        conf.update(tr.spark_event_log_conf(os.path.join(run_dir, "eventlog")))
    return conf


@dataclass
class Window:
    ops: list
    wall_s: float
    #: epoch seconds, to match Spark's job submission times
    start: float
    end: float
    #: bytes added under the workload's write dirs
    written: int

    @property
    def ops_per_s(self) -> float:
        return len(self.ops) / self.wall_s


def _window(wl, units, seconds: float) -> Window:
    """The next ``round(seconds / wl.UNIT_S)`` units of the stream, at
    least one. ``UNIT_S`` is a unit's nominal duration on a 4-core
    host, so the window lasts about ``seconds`` there, and every run,
    on any commit, measures the same amount of work: a slower commit
    shows as a longer window, not as fewer units of a different mix."""
    import checks

    before = sum(checks.dir_bytes(d) for d in wl.write_dirs())
    ops = []
    e0, t0 = time.time(), time.perf_counter()
    for _ in range(max(1, round(seconds / wl.UNIT_S))):
        ops.extend(wl.run_unit(next(units)))
    wall = time.perf_counter() - t0
    e1 = time.time()
    written = sum(checks.dir_bytes(d) for d in wl.write_dirs()) - before
    return Window(ops, wall, e0, e1, written)


def _install_wrappers(tracer, wl) -> None:
    """Traced run only: spans around the inner layers the engine
    calls through module attributes, wrapped from outside."""
    import ensembl_lakehouse_spark.engine as engine_mod

    tracer.wrap(engine_mod, "build_df", "query.build_df")
    tracer.wrap(engine_mod, "cache_key", "plans.canonical.cache_key")
    tracer.wrap(wl.engine.registry, "submit", "service.jobs.submit")


def _stop(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # pyspark's launcher makes the JVM exit when its stdin
        # closes; terminate it only if it does not
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.terminate()
            proc.wait()


def run(args, run_dir: str) -> tuple[dict, dict]:
    scale = 0.001 if args.smoke else workloads.SCALE[args.workload]
    data_dir = datagen.ensure(os.path.join(STATE, "data"), scale)

    from ensembl_lakehouse_spark import get_spark

    marks = [("start", T_START)]
    t0 = time.perf_counter()
    marks.append(("inputs", t0))
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=_spark_conf(run_dir, args.trace))
    session_s = time.perf_counter() - t0
    wl = None
    try:
        wl = workloads.WORKLOADS[args.workload](spark, data_dir, run_dir, args.seed, tr.NullTracer())
        marks.append(("session", time.perf_counter()))
        rounds = [wl.setup_round(i) for i in range(SETUP_ROUNDS)]
        t_rounds = time.perf_counter()
        marks.append(("rounds", t_rounds))
        base = wl.prepare()
        t1 = time.perf_counter()
        prepare_s = t1 - t_rounds
        marks.append(("prepare", t1))
        wl.warmup()
        warmup_s = time.perf_counter() - t1
        marks.append(("warmup", time.perf_counter()))
        setup_layers = {
            **base,
            "catalog.register_s": statistics.median(r["catalog.register_s"] for r in rounds)
            + base.get("catalog.register_s", 0.0),
        }
        round_s = statistics.median(sum(r.values()) for r in rounds)

        units = wl.units()
        win = _window(wl, units, args.seconds)
        traced = None
        if args.trace:
            # same session, so the traced window differs from the
            # untraced one by the spans and wrappers alone
            wl.tracer = tr.Tracer()
            _install_wrappers(wl.tracer, wl)
            wl.reset_counters()
            traced = _window(wl, units, args.seconds)
            if args.workload == "lookup":
                wl.probe_exports()
            storage = tr.storage_end(spark)
        marks.append(("windows", time.perf_counter()))

        wl.check(win.ops + (traced.ops if traced else []))
        if traced is not None:
            engine_layers = wl.per_layer(traced)
        marks.append(("checks", time.perf_counter()))
    finally:
        if wl is not None and wl.engine is not None:
            wl.engine.close()
        _stop(spark)
    marks.append(("stop", time.perf_counter()))

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    ops = win.ops
    lat_ms = [o.latency_s * 1000.0 for o in ops]
    all_ops = ops + (traced.ops if traced else [])
    e2e = {
        "setup_s": session_s + round_s + prepare_s + warmup_s,
        "ops_per_s": win.ops_per_s,
        "latency_p50_ms": statistics.median(lat_ms),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cores,
        "loadavg": os.getloadavg(),
        "scale": scale,
        "ops": len(ops),
        "window_s": win.wall_s,
        "attempted": len(all_ops) + wl.extra_attempted,
        "failed": sum(not o.ok for o in all_ops) + wl.extra_failed,
        "ok_frac": sum(o.ok for o in ops) / max(1, len(ops)),
        "latency_p90_ms": stats.reportable_percentile(lat_ms, 0.9),
        "write_bytes_per_row": win.written / max(1, sum(o.rows_written for o in ops)),
        "problems": wl.problems,
        "phases_s": {b[0]: round(b[1] - a[1], 3) for a, b in zip(marks, marks[1:])},
    }
    if not args.trace:
        return record, _named(e2e, metrics.END_TO_END)

    jobs = tr.read_event_log(os.path.join(run_dir, "eventlog"))
    layers: dict[str, float] = {
        "session.start_s": session_s,
        **setup_layers,
        "warmup_s": warmup_s,
        **engine_layers,
        **tr.spark_window_metrics(jobs, traced.start, traced.end, len(traced.ops), cores),
        "spark.storage_mem_bytes_end": storage[0],
        "spark.rdd_blocks_end": storage[1],
        "trace.overhead_frac": 1.0 - traced.ops_per_s / win.ops_per_s,
        **wl.job_counts(jobs),
    }
    record["traced_ops"] = len(traced.ops)
    record["untraced"] = e2e
    wl.tracer.dump(os.path.join(STATE, "traces", f"{args.workload}-{args.seed}.jsonl"))
    return record, _named(layers, metrics.PER_LAYER)


def _named(values: dict[str, float], names: dict[str, str]) -> dict:
    """Every metric of ``names`` with its unit; 0 for a layer the
    workload does not exercise."""
    unknown = set(values) - set(names)
    if unknown:
        raise KeyError(f"metrics missing from metrics.py: {sorted(unknown)}")
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()}


def main(argv=None) -> int:
    args = _args(argv)
    # after this directory, so that no repo module shadows the benchmark's
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]
    missing = [
        m for m in ("ensembl_lakehouse_spark", "__spark_entry__", "check_oracle")
        if importlib.util.find_spec(m) is None
    ]
    if missing:
        print(f"perfbench: cannot import {missing} from {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(STATE, "runs"))
    try:
        _hygiene(run_dir)
        record, values = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(record, default=str))
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": values,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
