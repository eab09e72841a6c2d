"""Smoke mode of the benchmark: every workload at tiny size, traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each run must deliver everything the model expects, report an error
rate of 0, and have the self times along each traced blocking path sum
to no more than that sample's end-to-end time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


@pytest.mark.parametrize("workload", ["emit_tail", "fleet_fanout", "batch_queries"])
def test_smoke(workload):
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "2",
         "--trace", "1", "--smoke"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
        check=False,
    )
    assert proc.returncode == 0, proc.stdout[-2000:]
    lines = proc.stdout.strip().splitlines()
    report = json.loads(next(x for x in lines if x.startswith("REPORT "))[len("REPORT "):])
    result = json.loads(lines[-1])

    assert report["failures"] == []
    assert report["error_rate"] == 0
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    detail = report["metrics"]
    assert detail["trace.paths"]["value"] > 0
    assert detail["trace.paths_within_e2e"]["value"] == detail["trace.paths"]["value"]
