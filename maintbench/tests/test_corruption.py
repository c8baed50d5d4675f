"""A damaged table fails the run: the oracle catches it, the run exits
non-zero and reports the failure."""

import os
import shutil

import pytest

from maintbench.tests.conftest import BENCH_DIR, ROOT, run_bench


@pytest.mark.parametrize("workload,corruption", [
    ("cdc_cow", "readd_file"),   # a replaced data file listed again
    ("cdc_cow", "drop_row"),     # one row gone from a live data file
    ("maintenance", "drop_row"),
])
def test_corrupted_table_fails_the_run(workload, corruption):
    rc, result, err = run_bench("--workload", workload, "--seed", "5", "--seconds", "2",
                                "--size", "tiny", "--corrupt", corruption)
    assert rc == 1, err[-3000:]
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert "expected" in err or "!=" in err


def test_without_the_engine_it_fails_fast_and_prints_no_result(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "maintbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    rc, result, err = run_bench("--workload", "cdc_cow", "--seed", "1", "--seconds", "1",
                                cwd=str(tmp_path))
    assert rc != 0
    assert result is None
