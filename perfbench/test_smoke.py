"""Smoke test of the benchmark itself, on its small inputs.

    python3 -m pytest perfbench

For every workload, one traced run must check its outputs without a
failure, print every per-layer metric with its unit, record every
end-to-end metric, find Spark jobs in the event log, and leave no process
of its own running when it exits.
``BENCHMARK.json`` must name the same workloads and metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proc as proc_tools  # noqa: E402
from layers import PER_LAYER  # noqa: E402
from run import END_TO_END  # noqa: E402

WORKLOADS = ("sales_etl", "curation_stream")
SEED = 7


def _orphans_left() -> list[int]:
    """Processes reparented to this one (a subreaper) after the run it
    started has exited: whatever the run left running, or left unreaped.
    They are killed and reaped here so that the next test starts clean."""
    me = str(os.getpid())
    left = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = f.read().rsplit(")", 1)[1].split()[1]
            except OSError:
                continue
            if ppid == me:
                left.append(int(pid))
    for pid in left:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
        with contextlib.suppress(ChildProcessError):
            os.waitpid(pid, 0)
    return left


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_benchmark_prints():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_metric(workload):
    proc_tools.become_subreaper()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "0", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert _orphans_left() == []
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] > 0
    assert {k: v["unit"] for k, v in line["metrics"].items()} == PER_LAYER
    assert line["metrics"]["exec.jobs"]["value"] > 0
    assert line["metrics"]["exec.tasks"]["value"] > 0
    with open(os.path.join(HERE, "results", f"{workload}-seed{SEED}-trace1.json")) as f:
        record = json.load(f)
    assert set(record["end_to_end"]) == set(END_TO_END)
    assert all(v > 0 for v in record["end_to_end"].values())
    assert record["calls"] and record["spans"]
