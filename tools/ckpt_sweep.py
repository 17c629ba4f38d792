#!/usr/bin/env python
"""Checkpoint-sweep A/B instrument (r12, VERDICT #5).

For each named query, interleaves cold end-to-end executions
(bench.py r12 timed-boundary semantics) of up to three variants in
ONE process so time-localized host noise hits all variants equally:

- ``eager``: the tree as committed (localCheckpoint sites run their
  materialization jobs at plan-build time);
- ``lazy``: every ``localCheckpoint(eager=...)`` call forced to
  ``eager=False`` via a DataFrame monkeypatch — the lattice still
  materializes exactly once per execution (shared stage + persist)
  but inside the timed action, with no separate build jobs;
- ``none``: ``localCheckpoint`` forced to identity — the r11-before
  shape where every reference re-evaluates the subtree. Skipped for
  iterative operators whose unrolled plan replays exponentially.

Measurement-only: the shipped default stays whatever the site code
says; winners are adopted by editing the site (with the float-safety
rule: lattices whose values come from double accumulation after a
shuffle must stay eager — two racing lazy evaluations in different
stages could disagree in the last ulp within one run).

Usage: python tools/ckpt_sweep.py [--repeats=N] [--no-none] q1 q2 ...
Output: one line per query: min seconds per variant.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import cold_run  # noqa: E402


def main() -> int:
    repeats = 5
    no_none = False
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--repeats="):
            repeats = int(a.split("=", 1)[1])
        elif a == "--no-none":
            no_none = True
        else:
            names.append(a)

    import gc

    import __spark_entry__ as entry
    from pyspark.sql.classic.dataframe import DataFrame

    from ensembl_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="ckpt-sweep")
    queries = entry.queries()
    orig = DataFrame.localCheckpoint

    def set_mode(mode: str) -> None:
        if mode == "eager":
            DataFrame.localCheckpoint = orig
        elif mode == "lazy":
            DataFrame.localCheckpoint = lambda self, eager=True: orig(
                self, eager=False
            )
        elif mode == "none":
            DataFrame.localCheckpoint = lambda self, eager=True: self
        else:
            raise ValueError(mode)

    modes = ["eager", "lazy"] + ([] if no_none else ["none"])
    for name in names:
        fn = queries[name]
        runs: dict[str, list[float]] = {m: [] for m in modes}
        try:
            for m in modes:  # one untimed warm-up per variant
                set_mode(m)
                cold_run(spark, fn)
            for _ in range(repeats):
                for m in modes:
                    set_mode(m)
                    runs[m].append(cold_run(spark, fn))
        finally:
            DataFrame.localCheckpoint = orig
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        mins = {m: min(v) for m, v in runs.items()}
        best = min(mins, key=mins.get)
        print(
            f"{name:40s} "
            + "  ".join(f"{m}={mins[m]:.3f}" for m in modes)
            + f"  -> {best}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
