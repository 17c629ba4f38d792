#!/usr/bin/env python
"""Matched A/B micro-bench for one query under host-noise (r11).

Runs the SAME query two ways — variant A = current tree, variant B =
an alternative builder monkey-patched in by the caller — and
interleaves their timed cold executions (A,B,A,B,...) in ONE
process, so a time-localized host slowdown (CPU steal burst) hits
both variants equally and the min-over-repeats comparison stays
fair. r12: each repeat rebuilds the DataFrame inside the timed
region (bench.py timed-boundary fix), so eager-checkpoint and
plan-build costs are part of every number. This is the round's keep/revert instrument; cross-run FULL
totals are not (OPTIMIZATION_r11.md "second interruption" note).

Usage: python tools/ab_bench.py <query> [repeats]
    (A/B the query against itself — a noise floor probe)

Library use (the normal path):
    from tools.ab_bench import ab
    ab("name_a", build_a, "name_b", build_b, repeats=7)
"""

from __future__ import annotations

import gc
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import cold_run  # noqa: E402


def ab(name_a, build_a, name_b, build_b, repeats: int = 7, spark=None):
    """Interleaved A/B; returns (min_a, min_b). r12 timed-boundary
    semantics (matches bench.py): each repeat REBUILDS the DataFrame
    inside the timed region so eager-checkpoint / plan-build work is
    priced, after one untimed warm-up pass per variant."""
    if spark is None:
        from ensembl_lakehouse_spark.session import get_spark

        spark = get_spark(app_name="ab-bench")
    # Warm-up (untimed): JIT / code cache / parquet footers.
    cold_run(spark, build_a)
    cold_run(spark, build_b)
    runs_a, runs_b = [], []
    for _ in range(repeats):
        runs_a.append(cold_run(spark, build_a))
        runs_b.append(cold_run(spark, build_b))
    min_a, min_b = min(runs_a), min(runs_b)
    print(
        f"A {name_a}: min {min_a:.3f}  runs {[round(r, 3) for r in runs_a]}"
    )
    print(
        f"B {name_b}: min {min_b:.3f}  runs {[round(r, 3) for r in runs_b]}"
    )
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return min_a, min_b


def main() -> int:
    import __spark_entry__ as entry

    name = sys.argv[1]
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    fn = entry.queries()[name]
    ab(name, fn, name + " (same)", fn, repeats=repeats)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
