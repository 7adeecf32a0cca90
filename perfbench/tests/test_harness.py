"""Fast checks of the benchmark harness that need no Spark session."""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def test_same_seed_gives_identical_parquet(tmp_path):
    a = gen.write_events(str(tmp_path / "a" / "events.parquet"), 5, 3000, 2)
    b = gen.write_events(str(tmp_path / "b" / "events.parquet"), 5, 3000, 2)
    c = gen.write_events(str(tmp_path / "c" / "events.parquet"), 6, 3000, 2)
    assert gen.file_sha256(a) == gen.file_sha256(b)
    assert gen.file_sha256(a) != gen.file_sha256(c)
    sa = gen.write_session_tables(str(tmp_path / "sa"), 5, 50, 50, 500, 100)
    sb = gen.write_session_tables(str(tmp_path / "sb"), 5, 50, 50, 500, 100)
    assert [gen.file_sha256(p) for p in sa] == [gen.file_sha256(p) for p in sb]


def test_ar1_matches_loop():
    import numpy as np

    rng = np.random.default_rng(0)
    eps = rng.normal(size=5000)
    a = 0.995
    want = np.empty_like(eps)
    x = 0.0
    for i, e in enumerate(eps):
        x = a * x + e
        want[i] = x
    np.testing.assert_allclose(gen._ar1(eps, a), want, rtol=1e-9, atol=1e-9)


def test_tail_needs_ten_samples_beyond():
    assert run.tail([1.0] * 10)["value"] is None
    t = run.tail([float(i) for i in range(100)])
    assert t["value"] == 89.0 and t["percentile"] == 90.0 and t["n"] == 100


def test_self_time_subtracts_children():
    tr = run.Tracer(enabled=True)
    tr.spans = [
        {"name": "iteration:1", "start": 0.0, "end": 10.0, "parent": None, "iteration": 1},
        {"name": "build:q", "start": 0.0, "end": 4.0, "parent": 0, "iteration": 1},
        {"name": "exec:q", "start": 4.0, "end": 9.0, "parent": 0, "iteration": 1},
    ]
    assert tr.self_times() == [1.0, 4.0, 5.0]


def test_per_layer_names_are_unique():
    names = run.per_layer_names()
    assert len(names) == len(set(names))


def test_refuses_to_run_without_the_engine(tmp_path):
    """Given only BENCHMARK.json and the benchmark's own files, the run
    fails fast and prints no result line."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", ".cache", ".out", "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "paper_pipeline", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())


@pytest.mark.parametrize("workload, trace", [("paper_pipeline", 0), ("registry_session", 1)])
def test_tiny_smoke_run(workload, trace):
    """One tiny-scale run per workload, end to end through Spark and the
    DuckDB oracle."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    want = run.per_layer_names() if trace else list(run.E2E_UNITS)
    assert sorted(last["metrics"]) == sorted(want)
    for m in last["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]
