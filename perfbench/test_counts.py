"""The benchmark's own tests: Spark counts repeat exactly.

Two traced runs of the same code on the same seed must report the same
``spark.jobs``, ``spark.stages`` and ``spark.tasks`` per pass, so a
later change can cite them as exact counts. Each case starts two
benchmark processes (about two minutes per workload).

    python3 -m pytest perfbench/test_counts.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.spread import run_seconds

_RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
_COUNTS = ("spark.jobs", "spark.stages", "spark.tasks")


def _traced(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, _RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", run_seconds(), "--trace", "1"],
        capture_output=True, text=True, check=False, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["failed"] == 0, proc.stderr[-2000:]
    return result["metrics"]


@pytest.mark.parametrize("workload", ["curation_sf01", "etl_lifecycle"])
def test_spark_counts_repeat_exactly(workload):
    first, second = _traced(workload, 7), _traced(workload, 7)
    for name in _COUNTS:
        assert first[name]["value"] > 0
        assert first[name]["value"] == second[name]["value"], name
