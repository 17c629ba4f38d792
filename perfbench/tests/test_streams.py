"""Seeded generators, the percentile rule and the metric list.

Run: python3 -m pytest perfbench/tests -q
"""

import json
import os

import pytest

import metrics
import stats
import streams

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: streams.lookup_stream(seed, 20, 150_000),
        lambda seed: [(c.rows, c.probe_custkey) for c in streams.curation_stream(seed, 5, 150_000)],
        lambda seed: streams.llm_stream(seed, 5),
    ],
    ids=["lookup", "curation", "llm_batch"],
)
def test_same_seed_same_stream_other_seed_other_stream(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_lookup_blocks_hold_the_fixed_mix_and_repeats_hit_the_cache():
    from ensembl_lakehouse_spark.plans.canonical import cache_key

    stream = streams.lookup_stream(3, 30, 150_000)
    block = len(streams.BLOCK_KINDS)
    for b in range(30):
        got = [
            (r.kind, None if r.kind == "repeat" else r.table)
            for r in stream[b * block:(b + 1) * block]
        ]
        assert sorted(got, key=str) == sorted(streams.BLOCK, key=str)

    def key(r):
        return cache_key(r.table, r.key_value, r.fields, r.condition)

    misses = [key(r) for r in stream if r.kind != "repeat"]
    assert len(set(misses)) == len(misses)
    for i, r in enumerate(stream):
        if r.kind == "repeat":
            original = stream[r.repeats]
            assert r.repeats < i and original.kind != "repeat"
            assert (r.fields, r.condition) != (original.fields, original.condition)
            assert key(r) == key(original)


def test_llm_params_are_in_bounds_non_default_and_distinct():
    from ensembl_lakehouse_spark.service.params import params_cache_suffix, resolve_params

    stream = streams.llm_stream(5, 7)
    keys = set()
    for name, params in stream:
        resolved = resolve_params(name, params)
        assert resolved, (name, params)
        keys.add(name + params_cache_suffix(resolved))
    assert len(keys) == len(stream)


def test_curation_batches_update_recent_keys_and_insert_new_ones():
    n = 150_000
    cycles = streams.curation_stream(1, 3, n)
    top = n
    for c in cycles:
        keys = [r[0] for r in c.rows]
        assert len(set(keys)) == len(keys) == c.n_updates + c.n_inserts
        updates = [k for k in keys if k < top]
        assert len(updates) == c.n_updates
        assert min(updates) >= top - n // 8
        assert sorted(k for k in keys if k >= top) == list(range(top, top + c.n_inserts))
        top += c.n_inserts
        assert c.probe_custkey in {r[1] for r in c.rows}


def test_p90_only_with_ten_samples_beyond_it():
    assert stats.reportable_percentile(list(range(50)), 0.9) is None
    assert stats.reportable_percentile(list(range(99)), 0.9) is None
    assert stats.reportable_percentile(list(range(100)), 0.9) == 89
    # ties at the percentile do not count as beyond it
    assert stats.reportable_percentile([1.0] * 95 + [2.0] * 5, 0.9) is None


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["lookup", "curation", "llm_batch"]
