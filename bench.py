#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs every query from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints TWO JSON lines — first the
full contract record:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

then a short summary line (metric/value/unit/sf only) as the FINAL
line of output, so a bounded tail capture that truncates the long
per-query line still records the headline number (the r2 driver
captured only the tail of one huge line and parsed nothing). The
complete record including per-query spread is also written to
``BENCH_FULL.json`` beside this script.

Each query is materialized with the Spark ``noop`` sink so the full
plan executes (scan → shuffle → agg) without driver-side collect
overhead — the number measured is engine throughput, not pandas
conversion. Per query: one warm-up pass primes the JVM/code-cache,
then REPEATS timed runs are taken and the minimum recorded. The min
filters out multi-second JIT/GC/VM stalls observed on this host
(trivial queries wobble 0.5-4 s run-to-run) and reflects
steady-state execution — what a long-lived cluster sees. Per-query
max/min spread is reported in "spread" so a recorded number whose
stall leaked through is visible (r1: two queries recorded ~24 s
host stalls that min-of-3 failed to filter). Flags: --no-warmup,
--repeats=N (default 5).

Timed-boundary fix (r12, per the r11 VERDICT): each timed repeat
now REBUILDS the DataFrame — ``fn(spark, SF_DIR)`` runs inside
``perf_counter()`` — and the process-level plan-literal memo
(tiling cutoffs) is cleared before every timed repeat. Previously
``fn()`` ran once, outside the timed region, so the ~45 operators
that materialize a shared lattice via eager ``localCheckpoint()``
(and the 5 tiling consumers whose cutoff jobs run at plan-build)
executed their heavy work at build time and the timed runs only
read warm blocks — their r11 numbers are LOWER BOUNDS, not costs.
From r12 on, a recorded number is the full cost of one cold
end-to-end execution: plan construction + every plan-build job +
execution. r11-and-earlier BENCH_FULL records are preserved
unchanged for reference; cross-methodology deltas are reconciled in
OPTIMIZATION_r12.md.

Positional args select a subset of queries; unknown names are a
hard error (a typo must not silently bench nothing).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def cold_run(spark, build, sf_dir: str = SF_DIR) -> float:
    """One cold end-to-end execution of ``build(spark, sf_dir)``, in
    seconds: clear the plan-literal memo (tiling's cutoff literals,
    keyed on input-file fingerprints — the one results-bearing process
    memo; sources/tables._ROW_GROUP_CACHE holds parquet-footer
    metadata only and stays), then time construction (eager
    localCheckpoint lattices and tiling/classifier plan-build jobs run
    there) plus a full ``noop`` write, which runs the whole plan
    without collecting rows to the driver. The DataFrame is dropped
    before returning so its checkpoint blocks can be released."""
    from ensembl_lakehouse_spark.operators import tiling

    tiling._LITERAL_CACHE.clear()
    start = time.perf_counter()
    df = build(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - start
    del df
    return elapsed


def main() -> int:
    warmup = "--no-warmup" not in sys.argv
    repeats = 5
    for arg in sys.argv[1:]:
        if arg.startswith("--repeats="):
            repeats = max(1, int(arg.split("=", 1)[1]))
    only = {a for a in sys.argv[1:] if not a.startswith("-")}

    import __spark_entry__ as entry
    from ensembl_lakehouse_spark.session import get_spark

    queries = entry.queries()
    unknown = only - set(queries)
    if unknown:
        print(
            f"error: unknown queries {sorted(unknown)}; "
            f"available: {sorted(queries)}",
            file=sys.stderr,
        )
        return 2

    spark = get_spark(app_name="elh-bench")
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}

    import gc

    for name, fn in queries.items():
        if only and name not in only:
            continue
        if warmup:
            # Untimed warm-up: primes JIT/code-cache/parquet footers,
            # never the plan memos (cold_run clears them each time).
            cold_run(spark, fn)
        # Each repeat rebuilds the DataFrame inside the timed region,
        # so plan-build jobs are priced, and drops it afterwards so
        # checkpoint blocks do not accumulate across repeats.
        runs = [cold_run(spark, fn) for _ in range(repeats)]
        timings[name] = round(min(runs), 4)
        spread[name] = round(max(runs) - min(runs), 4)
        # Outside the timed region: make the ContextCleaner release
        # this query's localCheckpoint blocks promptly. Without this,
        # blocks from every previous query accumulate in executor
        # memory and their deferred cleanup/GC lands inside LATER
        # queries' timed runs (r11: 8 untouched sub-second queries
        # spiked 1.9-4.9x in the full sequence but measured at
        # baseline in isolation).
        gc.collect()
        # The Python-side collect alone is NOT enough: ContextCleaner
        # only learns a JVM RDD/broadcast is dead when a JVM GC runs
        # (weak-reference queue), and Spark's own periodic trigger
        # (spark.cleaner.periodicGC.interval) defaults to 30 min —
        # longer than the whole bench. Until then every checkpointed
        # lattice block from every previous query stays in the block
        # manager, and the mounting storage/GC pressure lands inside
        # later queries' timed runs (measured: untouched sub-second
        # queries ran 2-4x slower late in the full sequence than in a
        # warm isolated process). One explicit JVM GC per query,
        # outside the timed region, drains the cleaner queue
        # deterministically.
        spark.sparkContext._jvm.System.gc()

    total = round(sum(timings.values()), 4)
    sf = _sf_from_dir(SF_DIR)

    # --- Regression tracking vs the previous ROUND's record. The
    # driver archives its own BENCH_r{N}.json; here the last round's
    # BENCH_FULL.json is kept under a round-stamped name the first
    # time bench runs in a new round, and per-query deltas are
    # computed against it so a regression is visible in the round
    # artifact itself rather than via tail-scraping two files.
    here = os.path.dirname(os.path.abspath(__file__))
    # Subset debug runs must never clobber the round's full record:
    # BENCH_FULL.json is the next round's regression baseline, and a
    # partial overwrite would silently erase it (the archive guard only
    # protects the cross-round stamp). Partial runs get their own file.
    out_path = os.path.join(
        here, "BENCH_PARTIAL.json" if only else "BENCH_FULL.json"
    )
    full_path = os.path.join(here, "BENCH_FULL.json")
    import glob
    import re as _re
    import shutil

    rounds = sorted(
        int(m.group(1))
        for f in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := _re.match(r"BENCH_r(\d+)\.json$", os.path.basename(f)))
    )
    baseline = None
    if rounds and os.path.exists(full_path):
        arch = os.path.join(here, f"BENCH_FULL_r{rounds[-1]:02d}.json")
        if not os.path.exists(arch):
            # first bench run of a new round: stamp last round's record
            # — but never a PARTIAL one (historical BENCH_FULL.json
            # files written before partial runs were split out may
            # carry partial=true; archiving one would silently shrink
            # all regression tracking for the following round)
            try:
                with open(full_path) as fh:
                    prior = json.load(fh)
            except ValueError:
                prior = {}
            if not prior.get("partial"):
                shutil.copyfile(full_path, arch)
        if os.path.exists(arch):
            try:
                with open(arch) as fh:
                    baseline = json.load(fh)
            except ValueError:
                baseline = None
    regressions: dict[str, dict] = {}
    if baseline and baseline.get("sf") == sf:
        prev_q = baseline.get("queries", {})
        for name, now in timings.items():
            prev = prev_q.get(name)
            # 1.5x with a 0.2 s floor filters the 0.5-4 s host wobble
            # on trivial queries (r4 verdict treated 1.25x as noise)
            if prev and now >= 1.5 * prev and now - prev >= 0.2:
                regressions[name] = {
                    "prev": prev,
                    "now": now,
                    "ratio": round(now / prev, 2),
                }

    full = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "regressions": regressions,
        "baseline_round": rounds[-1] if rounds else None,
        # subset runs are never round baselines (see archive guard)
        "partial": bool(only),
        "sf": sf,
    }
    # Full record to a file (always intact regardless of console capture).
    with open(out_path, "w") as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")
    # Contract line with per-query timings (spread lives in the file —
    # halves the line so a bounded tail capture is less likely to cut it).
    print(json.dumps({k: full[k] for k in ("metric", "value", "unit", "queries", "sf")}))
    # Short summary LAST: r2's driver tail-capture truncated the single
    # huge line from the front, so the final short line is the one spot
    # guaranteed to survive; it makes the 2x gate machine-checkable alone.
    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "queries_file": os.path.basename(out_path),
                # bounded: worst 10 by ratio so the line stays short
                "regressions": dict(
                    sorted(
                        regressions.items(),
                        key=lambda kv: -kv[1]["ratio"],
                    )[:10]
                ),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
