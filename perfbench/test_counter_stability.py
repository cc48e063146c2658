"""Counter stability: two traced runs of the same seed must report the
same warm-pass counts for the counters that are meant to be exact.

    python3 -m pytest perfbench/test_counter_stability.py -q -m slow

Takes about four minutes on 4 cores (two runs per workload), so it is
marked ``slow`` and left out of the default test selection.  Times
and byte counts are not compared: they carry run-to-run spread (see
README.md, "Counters").
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

pytestmark = pytest.mark.slow

EXACT = [
    "construct.py4j_calls", "construct.jobs", "construct.stages", "construct.tasks",
    "construct.barriers", "construct.actions",
    "execute.jobs", "execute.stages", "execute.stages_skipped", "execute.tasks",
    "scans.calls", "parallel.calls", "parallel.repartitions",
]


def traced_run(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "6", "--trace", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    report, final = json.loads(out[-2]), json.loads(out[-1])
    assert final["correct"], report["errors"]
    return report["per_layer_passes"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_warm_counters_repeat(workload):
    a, b = traced_run(workload, 7), traced_run(workload, 7)
    for name in EXACT:
        values = a.get(name, [0]) + b.get(name, [0])
        assert len(set(values)) == 1, f"{workload} {name} varies across warm passes: {values}"
