import json
import os

import pytest

from perfbench import workloads

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def test_geomean():
    assert workloads.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert workloads.geomean([3.0]) == pytest.approx(3.0)


def test_leaf_catalog_matches_bench_and_benchmark_json():
    import bench
    with open(os.path.join(workloads.HERE, "expected_counts.json")) as f:
        expected = json.load(f)
    assert set(expected) == set(workloads.DEFAULT_LEAVES)
    assert set(workloads.DEFAULT_LEAVES) <= set(bench.HEADLINE)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {m["name"] for m in spec["per_layer"]}
    assert {f"queries.{q}_s" for q in workloads.DEFAULT_LEAVES} <= names
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
