import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)


def run_bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    """Run the benchmark command; returns (exit code, last-line JSON or
    None, stderr)."""
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "maintbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    return p.returncode, result, p.stderr


@pytest.fixture(scope="session")
def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)
