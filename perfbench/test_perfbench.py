"""Smoke tests of the benchmark itself, at scale 0.001.

Run from the repository root:  python -m pytest perfbench -q
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _compare():
    path = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def _bench(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    return datagen.ensure_tables(str(tmp_path_factory.mktemp("data")), 0.001)


def test_tail_picks_highest_supported_percentile():
    assert run.tail(list(range(50)))[1] == "p90"
    assert run.tail(list(range(200)))[1] == "p95"
    v, pct, beyond = run.tail([float(x) for x in range(1000)])
    assert pct == "p99" and beyond == 10 and 988 < v < 990


def test_oracle_rejects_a_wrong_read_result(tiny, tmp_path):
    w = workloads.MorWriteMix(tiny, 1, _compare())
    try:
        # the replay tables, as populate() leaves them
        w.populate(_NoLake(), str(tmp_path))
        op = workloads.Op("read", "agg", "agg:1:insert:0",
                          sql=w.AGG.format(where=""))
        good = w.con.execute(op.sql).arrow()
        assert w.check(op, good) == []
        rows = good.to_pylist()
        rows[0]["total"] += 1.0
        bad = good.from_pylist(rows, schema=good.schema)
        assert w.check(op, bad)
    finally:
        w.close()


def test_oracle_rejects_a_wrong_write_count(tiny, tmp_path):
    import pyarrow as pa
    w = workloads.MorWriteMix(tiny, 1, _compare())
    try:
        # the replay tables, as populate() leaves them
        w.populate(_NoLake(), str(tmp_path))
        op = workloads.Op("write", "delete", "delete:1",
                          sql="DELETE FROM mt WHERE o_orderkey % 97 = 3")
        n = w.con.execute("SELECT count(*) FROM mt "
                          "WHERE o_orderkey % 97 = 3").fetchone()[0]
        assert w.check(op, pa.table({"count": [n + 1]}))
    finally:
        w.close()


class _NoLake:
    """Stands in for the session when only the DuckDB replay is needed."""

    def create_empty_table(self, *a, **kw):
        pass

    def add_files(self, *a, **kw):
        pass


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_every_end_to_end_metric_is_emitted(workload):
    out = _bench(workload, 0)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    names = {m["name"] for m in SPEC["end_to_end"]}
    assert set(result["metrics"]) == names
    assert all(m["value"] > 0 for m in result["metrics"].values())
    for m in SPEC["end_to_end"]:
        assert f"metric {m['name']} " in out.stdout


def test_traced_run_writes_spans_and_per_layer_metrics():
    out = _bench("fresh_point_meta", 1)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert 0 < result["metrics"]["trace.sql_layer_share"]["value"] <= 1
    with open(os.path.join(ROOT, ".perfbench", "out",
                           "spans-fresh_point_meta-seed7.json")) as f:
        spans = json.load(f)
    names = {s["name"] for s in spans["spans"]}
    assert {"op", "catalog.refresh", "catalog.sql", "spark.exec"} <= names
    assert any(n.startswith("provider.") for n in names)


def test_fails_without_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert out.stdout.strip() == ""
