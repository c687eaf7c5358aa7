"""The benchmark's own tests: ``python -m pytest perfbench -q``.

- a tiny-scale run of every workload, traced and untraced, prints exactly
  the metric names and units BENCHMARK.json lists;
- the oracle gates fail when the expected state or an operator leg's
  rows are corrupted;
- without the program beside it, the benchmark exits non-zero and prints
  no result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    listed = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in listed
    }
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, name


def test_without_the_program_it_exits_nonzero_and_prints_nothing(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark():
    from arango_etl_spark.session import get_spark

    return get_spark("perfbench-tests", cores=2, shuffle_partitions=2,
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def _tiny(spark, tmp_path, cls):
    from perfbench import workloads
    from perfbench.tracing import ProgressListener, Tracer

    listener = ProgressListener()
    ctx = workloads.Context(spark=spark, tracer=Tracer(spark, enabled=False),
                            listener=listener, work=str(tmp_path),
                            seed=5, scale="tiny")
    wl = cls(ctx)
    spark.streams.addListener(listener)
    try:
        wl.setup()
        wl.warmup()
        res = wl.measure(0.01)
    finally:
        spark.streams.removeListener(listener)
    wl.check(res)
    assert res.failed == 0
    return wl, res


def test_state_gate_fails_on_corrupted_expected_state(spark, tmp_path, monkeypatch):
    from perfbench import workloads

    wl, res = _tiny(spark, tmp_path, workloads.StreamTail)
    real = workloads.reduce_events_duckdb

    def corrupted(glob):
        expected = real(glob)
        expected.loc[0, "n_tok"] = expected.loc[0, "n_tok"] + 1
        return expected

    monkeypatch.setattr(workloads, "reduce_events_duckdb", corrupted)
    wl.check(res)
    assert res.failed == 1


def test_operator_gate_fails_on_a_corrupted_leg(spark, tmp_path):
    from perfbench import workloads

    wl, res = _tiny(spark, tmp_path, workloads.OperatorQueries)
    cols, rows = wl.results["cms_token_counts"]
    i = cols.index("exact_count")
    wl.results["cms_token_counts"] = (
        cols, [rows[0][:i] + (rows[0][i] + 1,) + rows[0][i + 1:]] + rows[1:])
    wl.check(res)
    assert res.failed == 1
