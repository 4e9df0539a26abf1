"""BENCHMARK.json, the metric tables and the workloads agree."""

from __future__ import annotations

import json
import os
import time

import pandas as pd

from perfbench.metrics import END_TO_END, FIRST_WARM_PASS, PER_LAYER, cold_pass, cpu_s, warm_pass
from perfbench.oracle import digest, mismatch
from perfbench.workloads import DROPPED, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_file_lists_the_printed_metrics():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_every_workload_query_is_registered():
    from projectmapreduce_spark.queries import QUERIES

    for w in WORKLOADS.values():
        assert w.queries and set(w.queries) <= set(QUERIES), w.name
    run = {q for w in WORKLOADS.values() for q in w.queries}
    assert set(DROPPED) <= set(QUERIES) and not set(DROPPED) & run


def test_digest_is_type_sensitive_and_order_insensitive():
    a = pd.DataFrame({"k": [1, 2], "v": [3, 4]})
    b = pd.DataFrame({"v": [4, 3], "k": [2, 1]})
    c = pd.DataFrame({"k": [1, 2], "v": [3.0, 4.0]})
    assert mismatch(digest(a), digest(b)) is None
    assert mismatch(digest(a), digest(c)) is not None


def test_warm_pass_sums_per_query_medians_of_counted_passes():
    def one(a, b):
        return {
            "queries": [
                {"query": "a", "build_s": a, "action_s": 0.0, "cpu_s": 2 * a},
                {"query": "b", "build_s": 0.0, "action_s": b, "cpu_s": 2 * b},
            ]
        }

    uncounted = [one(100.0, 100.0)] * FIRST_WARM_PASS
    counted = [one(1.0, 9.0), one(2.0, 1.0), one(3.0, 2.0)]
    assert warm_pass(uncounted + counted) == 2.0 + 2.0
    assert warm_pass(uncounted + counted, cpu_s) == 4.0 + 4.0
    assert cold_pass(uncounted + counted, cpu_s) == 400.0


def test_engine_cpu_counts_this_process():
    from perfbench.worker import engine_cpu_s

    before = engine_cpu_s()
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    assert engine_cpu_s() - before >= 0.25
