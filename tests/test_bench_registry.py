"""bench.py's phase registry: the phase names and order are the recorded
BENCH_r*.json trajectory's, every set-up step is a Bench method, and an
unknown phase is rejected before any Spark session starts."""

import json
import os
import subprocess
import sys

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_phase_order_matches_recorded_bench():
    with open(os.path.join(REPO, "BENCH_r06.json")) as fh:
        recorded = json.load(fh)["parsed"]["queries"]
    assert list(bench.PHASES) == list(recorded)


def test_setup_steps_are_bench_methods():
    for name, (setup, action) in bench.PHASES.items():
        assert callable(action), name
        for step in setup:
            assert callable(getattr(bench.Bench, step, None)), (name, step)


def test_unknown_phase_exits_2_before_spark_starts():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "no_such_phase"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2
    assert "no_such_phase" in proc.stderr
    assert "Spark" not in proc.stderr  # no session banner, no log lines
