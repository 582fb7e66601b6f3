import math

import pytest

from perfbench.stats import Outcomes, geomean


def test_geomean_of_known_values():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([2.0, 8.0, 4.0]) == pytest.approx(4.0)
    assert geomean([3.5]) == pytest.approx(3.5)


def test_geomean_weights_small_values_like_large_ones():
    # halving one small value moves the geomean as much as halving a large one
    base = geomean([0.1, 10.0])
    assert geomean([0.05, 10.0]) == pytest.approx(base / math.sqrt(2))
    assert geomean([0.1, 5.0]) == pytest.approx(base / math.sqrt(2))


def test_geomean_rejects_non_positive():
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    assert geomean([]) == 0.0


def test_fail_ratio_counts_an_injected_hash_mismatch():
    out = Outcomes({"q1": 11, "q2": 22})
    assert out.record("q1", 11)
    assert not out.record("q2", 23)  # injected mismatch
    assert out.record("q2", 22)
    assert not out.record("q1", None, RuntimeError("boom"))
    assert (out.attempted, out.failed) == (4, 2)
    assert out.fail_ratio == pytest.approx(0.5)
    assert "q2: hash 23 != verified 22" in out.failures[0]


def test_fail_ratio_without_attempts_is_zero():
    assert Outcomes({}).fail_ratio == 0.0


def test_benchmark_json_lists_the_metrics_the_run_reports():
    import json
    from pathlib import Path

    from perfbench import workloads

    doc = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert {w["name"] for w in doc["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == workloads.PER_LAYER
