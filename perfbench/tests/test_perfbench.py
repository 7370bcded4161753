"""Tests for the benchmark itself.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
The smoke tests start Spark and take about a minute each.
"""

import json
import os
import random
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402
import workloads as W  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _plan(name, seed, passes=3):
    rng = random.Random(seed)
    wl = W.WORKLOADS[name]
    seen = set()
    out = []
    for p in range(passes):
        for u in W.plan_pass(wl, rng, seen):
            if u.kind == "chsql":
                out.append((u.name, u.statement.ch, u.statement.duck))
            elif u.kind == "ingest":
                out.extend((s.name, s.ch, s.duck) for s in u.cycle.steps())
            else:
                out.append((u.name, "", ""))
    return out


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_same_seed_same_plan(name):
    assert _plan(name, 7) == _plan(name, 7)
    assert _plan(name, 7) != _plan(name, 8)


def test_statement_texts_do_not_repeat():
    texts = [ch for name, ch, _ in _plan("interactive_sf0.01", 3, passes=20)
             if name.startswith("chsql:")]
    assert len(texts) == 12 * 20
    assert len(texts) == len(set(texts))


def test_percentile_reports_sample_count():
    xs = [float(i) for i in range(1, 41)]
    assert W.percentile(xs, 50) == (20.0, 40)
    assert W.percentile(xs, 75) == (30.0, 40)
    assert W.percentile(xs[:run.MIN_SAMPLES], 70) == (24.0, run.MIN_SAMPLES)


def test_percentile_refuses_a_shallow_tail():
    xs = [float(i) for i in range(39)]
    with pytest.raises(ValueError):
        W.percentile(xs, 75)
    with pytest.raises(ValueError):
        W.percentile(xs[:run.MIN_SAMPLES - 1], 70)
    with pytest.raises(ValueError):
        W.percentile([float(i) for i in range(99)], 90)
    W.percentile([float(i) for i in range(100)], 90)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(W.WORKLOADS)


def test_refuses_to_run_without_the_engine(tmp_path):
    dst = tmp_path / "perfbench"
    dst.mkdir()
    for f in os.listdir(BENCH_DIR):
        if f.endswith(".py"):
            (dst / f).write_bytes(open(os.path.join(BENCH_DIR, f), "rb").read())
    proc = subprocess.run(
        [sys.executable, str(dst / "run.py"), "--workload", "mergetree_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("name,trace", [("interactive_sf0.01", 0),
                                        ("mergetree_ingest", 1)])
def test_smoke_sf0001_passes_the_oracle(name, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", name,
         "--seed", "5", "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True, proc.stdout[-2000:]
    assert result["failed"] == 0 and result["attempted"] >= run.MIN_SAMPLES
    spec = _spec()
    names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert set(result["metrics"]) == names
