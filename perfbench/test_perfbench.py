"""Self-checks of the benchmark, at the smoke size:

    python3 -m pytest perfbench/test_perfbench.py -q

Counts of work must not depend on the host: two traced runs at one
seed give identical Spark job, stage and task counts, probe build
jobs, files written, leaf directories read and recall.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import spans  # noqa: E402

STEADY = ("spark.jobs", "spark.stages", "spark.tasks", "probe.build_jobs",
          "fs.files_written", "fs.leaf_dirs", "probe.recall_at_10")


def _left_running() -> list:
    """Processes started by a run (they inherit its child marker)."""
    marker = f"{run.CHILD_ENV}=1".encode()
    pids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if marker in f.read().split(b"\0"):
                    pids.append(int(d))
        except (OSError, ValueError):
            pass
    return pids


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "0",
         "--trace", str(trace), "--size", "smoke"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True,
        timeout=600, check=True)
    assert not _left_running(), "a process of the run outlived it"
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["analytic_mix", "ingest_stream"])
def test_counters_repeat_exactly(workload):
    a, b = (_run(workload, 7, 1) for _ in range(2))
    for res in (a, b):
        assert res["correct"] and res["failed"] == 0, res
        assert set(res["metrics"]) == set(spans.PER_LAYER)
    diff = {k: (a["metrics"][k]["value"], b["metrics"][k]["value"])
            for k in STEADY
            if a["metrics"][k]["value"] != b["metrics"][k]["value"]}
    assert not diff, diff
    assert a["metrics"]["trace.self_sum_error"]["value"] < 0.1


def test_untraced_run_reports_end_to_end_metrics():
    res = _run("ingest_stream", 3, 0)
    assert res["correct"] and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == (
        run.END_TO_END)
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_tail_is_highest_percentile_with_ten_beyond():
    vals = list(range(1, 31))
    assert run.tail(vals) == (20, 66.67)
    assert run.tail(vals[:10]) == (10, 100.0)


def test_self_times_subtract_child_cover():
    s = [{"id": 0, "parent": None, "start": 0.0, "end": 10.0},
         {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
         {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
         {"id": 3, "parent": 2, "start": 3.0, "end": 4.0}]
    assert spans.self_times(s) == {0: 5.0, 1: 3.0, 2: 2.0, 3: 1.0}


def test_fails_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in ("run.py", "spans.py", "workloads.py", "datagen.py"):
        (bench / f).write_text(open(os.path.join(HERE, f)).read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytic_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0 and out.stdout == ""
