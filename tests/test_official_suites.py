"""Official TPC-H (22) and TPC-DS (99) texts, cross-engine (the actual
suite the reference benchmarks — benchmark/src/tpch.rs, tpcds.rs:52-66 —
via DuckDB's bundled generators + canned query texts)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.official_suites import dq_to_backticks, run_suite  # noqa: E402


import pytest


def test_dq_to_backticks():
    assert dq_to_backticks('SELECT a AS "order count" FROM t') == \
        "SELECT a AS `order count` FROM t"
    # single-quoted strings keep their double quotes and escapes
    assert dq_to_backticks("SELECT 'he said \"hi\"', \"col x\"") == \
        "SELECT 'he said \"hi\"', `col x`"
    assert dq_to_backticks("SELECT 'it''s', \"a b\"") == \
        "SELECT 'it''s', `a b`"


def test_official_tpch_all_22(spark):
    r = run_suite(spark, "tpch", 0.01)
    assert r["failed"] == [], r["failed"]
    assert r["n_ok"] == 22


@pytest.mark.slow
def test_official_tpcds_all_99(spark):
    r = run_suite(spark, "tpcds", 0.01)
    assert r["failed"] == [], r["failed"]
    assert r["n_ok"] == 99
