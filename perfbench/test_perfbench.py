"""Tests of the benchmark itself: its smoke mode on every workload, the
fault path, the refusal outside a checkout, and the pure helpers.

    python -m pytest perfbench/test_perfbench.py -q

The smoke runs start one Spark process each (~40-70 s apiece).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--scale", "smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_end_to_end(workload):
    out = result(bench(workload, "--trace", "0"))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert out["metrics"][m["name"]]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced(workload):
    out = result(bench(workload, "--trace", "1"))
    assert out["correct"]
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert math.isfinite(out["metrics"][m["name"]]["value"]), m["name"]
    with open(os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-seed3.json")) as fh:
        trace = json.load(fh)
    # every op's self times add up to its traced wall time
    assert trace["detail"]["reconcile_err_pct"] < 1.0
    for row in trace["detail"]["per_op"]:
        assert sum(row["self_ms"].values()) == pytest.approx(row["wall_ms"], rel=0.01)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_result_counts_as_failed(workload):
    out = result(bench(workload, "--trace", "0", "--fault"))
    assert not out["correct"] and out["failed"] >= 1


def test_refuses_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = bench(WORKLOADS[0], "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0 and proc.stdout.strip() == ""


def test_fixtures_follow_the_seed(tmp_path):
    scale = fixtures.SCALES["smoke"]
    a = fixtures.generate(str(tmp_path / "a"), 7, scale)
    b = fixtures.generate(str(tmp_path / "b"), 7, scale)
    c = fixtures.generate(str(tmp_path / "c"), 8, scale)
    for name in ("events", "documents", "lineitem"):
        fa, fb, fc = (pd.read_parquet(os.path.join(d, f"{name}.parquet")) for d in (a, b, c))
        assert fa.equals(fb)
        assert not fa.equals(fc)


def test_mismatch_ignores_order_and_catches_changes():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
    assert oracle.mismatch(df.iloc[::-1], df) is None
    assert oracle.mismatch(df.iloc[1:], df) is not None
    changed = df.assign(v=[0.1, 0.2, 0.31])
    assert "column v" in oracle.mismatch(changed, df)


def test_self_times_split_concurrent_children():
    tracer = tracing.Tracer()
    op = tracing.Op("op1", "replay", 0.0, 10.0, root=0)
    tracer.ops.append(op)
    tracer.spans = [
        tracing.Span(0, "op.replay", 0.0, 10.0, None, "op1"),
        tracing.Span(1, "pipeline", 0.0, 10.0, 0, "op1"),
        tracing.Span(2, "write[raw]", 2.0, 6.0, 0, "op1"),
        tracing.Span(3, "write[agg]", 4.0, 8.0, 0, "op1"),
    ]
    selfs = tracing.self_times(tracer.spans, op)
    assert sum(selfs.values()) == pytest.approx(10.0)
    assert selfs["pipeline"] == pytest.approx(4.0 + 2.0 / 2 + 2.0 / 3 + 2.0 / 2)
