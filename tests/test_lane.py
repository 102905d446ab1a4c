"""tools/lane.py: the one measuring lane. A subprocess run of its profile
mode on one cheap query, and its merge rule and comparison arithmetic,
session-free."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from tools.lane import compare, core_ratio, effective_slope, merge_refusal

REPO = Path(__file__).resolve().parents[1]


def _row(median_s, fixture="sf0.1", cpus=4, **extra):
    return {"query": "q", "fixture": fixture, "cpus": cpus, "median_s": median_s,
            "samples": [median_s], "compiles": [0], "compile_ms": [0.0],
            "python_cpu_s": [0.0], **extra}


def test_lane_profile_row_and_plan_dump(sf_dir, tmp_path):
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "lane.py"), "--samples", "1",
         "--plans-dir", str(tmp_path), "sort_limit"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=tmp_path,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_CPUS": "2"},
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    (line,) = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    row = json.loads(line)
    assert row["query"] == "sort_limit" and row["fixture"] == "sf0.001"
    assert row["cpus"] == 2
    assert row["median_s"] > 0 and len(row["samples"]) == 1
    assert row["compiles"] == [0]  # the warm run compiled everything
    assert row["python_cpu_s"][0] >= 0
    assert "Physical Plan" in (tmp_path / "sort_limit.txt").read_text()


def test_merge_refuses_another_core_count_scale_or_none():
    prior = {"cpus": 4, "scale": 10, "queries": {}}
    assert merge_refusal(prior, 4, 10) is None
    assert "cpus=32" in merge_refusal({**prior, "cpus": 32}, 4, 10)
    # the committed pre-lane record carries no core count at all
    assert "cpus=None" in merge_refusal({"scale": 10, "queries": {}}, 4, 10)
    assert "scale=10" in merge_refusal(prior, 4, 2)


def test_slope_work_slope_and_ratio_arithmetic():
    plain = compare(_row(2.0), _row(5.0, "sf1_full_x10"))
    assert (plain["base_s"], plain["scaled_s"], plain["slope"]) == (2.0, 5.0, 2.5)
    assert "work_slope" not in plain and effective_slope(plain) == 2.5
    assert [r["fixture"] for r in plain["runs"]] == ["sf0.1", "sf1_full_x10"]

    pairs = compare(_row(1.0, rows=100), _row(8.0, "sf1_full_x10", rows=4000))
    assert pairs["output_ratio"] == 40.0 and pairs["slope"] == 8.0
    assert pairs["work_slope"] == 0.2 == effective_slope(pairs)
    # an output that shrinks never inflates the per-row slope
    shrink = compare(_row(1.0, rows=10), _row(3.0, rows=0))
    assert shrink["work_slope"] == 3.0

    cores = core_ratio({4: _row(1.5), 1: _row(4.5, cpus=1)})
    assert (cores["s_1"], cores["s_4"], cores["ratio"]) == (4.5, 1.5, 3.0)
    assert [r["cpus"] for r in cores["runs"]] == [1, 4]


def test_python_cpu_keeps_the_cpu_of_a_worker_that_exited():
    """The worker daemon ignores SIGCHLD, so an exited worker's CPU shows in
    no /proc figure of the tree; the reading must not fall when one exits."""
    from types import SimpleNamespace as NS

    from tools.lane import python_cpu

    read = python_cpu(NS(sparkContext=NS(_gateway=NS(proc=NS(pid=os.getpid())))))
    worker = subprocess.Popen(
        [sys.executable, "-c", "import sys, time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass\nprint('ready', flush=True)\n"
         "sys.stdin.read()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    assert worker.stdout.readline() == "ready\n"
    busy = read()
    worker.communicate("", timeout=30)
    assert busy >= 0.25
    assert read() >= busy
