"""Every workload at tiny size, untraced and traced, emits exactly the
metrics BENCHMARK.json names, with their units."""

import math

import pytest

from maintbench.run import WORKLOADS
from maintbench.tests.conftest import run_bench


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric(workload, trace, benchmark_json):
    rc, result, err = run_bench("--workload", workload, "--seed", "3", "--seconds", "2",
                                "--trace", str(trace), "--size", "tiny")
    assert rc == 0, err[-3000:]
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = benchmark_json["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in want)
    for m in want:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], m["name"]
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), m["name"]
        if not trace:
            assert v["value"] > 0, m["name"]
