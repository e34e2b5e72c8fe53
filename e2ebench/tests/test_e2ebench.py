"""Tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest e2ebench/tests -q -p no:cacheprovider

The run tests start real Spark sessions (about 30-60 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import procs  # noqa: E402
import worker  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = ["--workload", "pip", "--scale", "0.05", "--seconds", "1"]


def run_bench(*args, env=None, cwd=ROOT, timeout=170):
    return subprocess.run([sys.executable, "e2ebench/run.py", *args],
                          cwd=cwd, env=env, capture_output=True, text=True,
                          timeout=timeout)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


def test_corrupted_output_counts_as_failed():
    calls = []

    def op(i):
        calls.append(i)
        return "corrupt" if i == 1 else "expected"

    loop = worker.closed_loop(op, lambda out: out == "expected", seconds=20,
                              clock=FakeClock())
    assert loop.attempted == len(calls) >= 3
    assert loop.failed == 1
    assert [i for i, _ in loop.outputs] == [i for i in calls if i != 1]
    m = worker.e2e_metrics(100, loop, setup_s=1.0, peak_rss_mb=1.0)
    assert m["ok_share"]["value"] == pytest.approx(
        (loop.attempted - 1) / loop.attempted)


def test_raising_operation_counts_as_failed():
    def op(i):
        if i == 0:
            raise RuntimeError("lost executor")
        return i

    loop = worker.closed_loop(op, lambda out: True, seconds=10,
                              clock=FakeClock())
    assert loop.failed == 1 and loop.attempted >= 2


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
def test_output_line_contract(trace):
    r = run_bench(*TINY, "--seed", "3", "--trace", str(trace))
    assert r.returncode == 0, r.stderr[-3000:]
    out = _last_json(r.stdout)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float))
               for v in out["metrics"].values())


@pytest.mark.parametrize("how", ["signal", "deadline"])
def test_stopped_run_leaves_no_processes(how):
    token = uuid.uuid4().hex
    env = dict(os.environ, **{procs.MARK: token})
    extra = ["--deadline", "25"] if how == "deadline" else []
    sup = subprocess.Popen(
        [sys.executable, "e2ebench/run.py", *TINY, "--seed", "4",
         "--seconds", "120", *extra],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    try:
        if how == "signal":
            end = time.monotonic() + 90
            while len(procs.run_pids(token, {sup.pid})) < 2:  # worker + JVM
                assert time.monotonic() < end, "the run never started Spark"
                time.sleep(0.5)
            time.sleep(3)
            sup.send_signal(signal.SIGTERM)
        stdout, _ = sup.communicate(timeout=120)
    finally:
        if sup.poll() is None:
            sup.kill()
            sup.wait()
    assert sup.returncode != 0
    assert stdout.strip() == ""
    assert procs.run_pids(token) == []


def test_bare_directory_fails_without_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "e2ebench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    t0 = time.monotonic()
    r = run_bench("--workload", "pip", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=tmp_path, timeout=60)
    assert r.returncode != 0
    assert r.stdout.strip() == ""
    assert time.monotonic() - t0 < 60
