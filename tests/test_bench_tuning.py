"""bench.py tuning helpers — pure-Python, no SparkSession needed.

Pins the round-10 scale-trend adjudication (PLANS.md): AQE's SMJ→SHJ
conversion threshold is derived from the memory envelope, not a
constant, because the conversion's hash build cannot spill and
hard-failed q18 at SF30-equivalent under the old fixed 256m.
"""
from __future__ import annotations

import pytest

import bench

GiB = 1 << 30
MiB = 1 << 20


class TestParseSize:
    def test_suffixes(self):
        assert bench._parse_size("16g") == 16 * GiB
        assert bench._parse_size("512m") == 512 * MiB
        assert bench._parse_size("3k") == 3 * 1024
        assert bench._parse_size("2t") == 2 * (1 << 40)
        assert bench._parse_size("1024") == 1024

    def test_case_and_b_suffix_and_whitespace(self):
        assert bench._parse_size("16G") == 16 * GiB
        assert bench._parse_size(" 16gb ") == 16 * GiB
        assert bench._parse_size("512MB") == 512 * MiB

    def test_rejects_garbage(self):
        with pytest.raises(ValueError):
            bench._parse_size("lots")
        with pytest.raises(ValueError):
            bench._parse_size("1.5g")  # fractional not in Spark's grammar
        with pytest.raises(ValueError):
            bench._parse_size("")


class TestShjConversionThreshold:
    """Rule: conversion allowed only while total_input × 8 ≤ off-heap.
    The 8× factor ≈ cpus concurrent non-spillable builds × 4× in-memory
    expansion over compressed shuffle bytes, with headroom for agg maps
    and broadcast builds (PLANS.md round-10 scale-trend)."""

    OFFHEAP = 16 * GiB  # sparkutil default (SPARK_GRAFT_OFFHEAP)

    def test_committed_evidence_tiers_keep_their_measured_conf(self):
        # sf0.1 17 MB, SF1 0.2 GB, SF3 0.5 GB, SF10 1.7 GB — all were
        # benched five rounds green at 256m; the gate must not move them.
        for total in (17 * MiB, 200 * MiB, 500 * MiB, int(1.7 * GiB)):
            assert bench._shj_conversion_threshold(
                total, 32, self.OFFHEAP) == "256m"

    def test_sf30_regime_disables_conversion(self):
        # SF30-equivalent (4.9 GB) hard-failed q18 at every conversion
        # threshold; the gate must return 0 (keep spillable sort-merge).
        assert bench._shj_conversion_threshold(
            int(4.9 * GiB), 32, self.OFFHEAP) == "0"

    def test_boundary_is_exactly_an_eighth_of_the_pool(self):
        assert bench._shj_conversion_threshold(
            2 * GiB, 32, self.OFFHEAP) == "256m"
        assert bench._shj_conversion_threshold(
            2 * GiB + 1, 32, self.OFFHEAP) == "0"

    def test_smaller_pool_tightens_the_gate(self):
        # A 4 GiB executor pool flips SF10-sized input to sort-merge.
        assert bench._shj_conversion_threshold(
            int(1.7 * GiB), 32, 4 * GiB) == "0"
        assert bench._shj_conversion_threshold(
            500 * MiB, 32, 4 * GiB) == "256m"


class _ConfRecorder:
    """Duck-typed SparkSession: records conf.set calls from _tune_for_dir."""
    class _Conf:
        def __init__(self):
            self.values = {}
        def set(self, k, v):
            self.values[k] = v
    def __init__(self):
        self.conf = self._Conf()


class TestTuneForDir:
    """Pins the conf policy _tune_for_dir applies per input size —
    including the round-10 bloom-filter gates (PLANS.md round-10
    scale-trend A/B: blooms inject only where Spark's own per-join size
    check passes; the conf is the policy, the planner does the scaling)."""

    def _tune(self, tmp_path, nbytes, cpus=32):
        p = tmp_path / "lineitem.parquet"
        p.write_bytes(b"\0" * min(nbytes, 1 * MiB))
        import os
        os.truncate(p, nbytes)  # sparse — size without the disk cost
        rec = _ConfRecorder()
        import unittest.mock as mock
        with mock.patch.dict("os.environ", {"SPARK_GRAFT_CPUS": str(cpus)}):
            bench._tune_for_dir(rec, str(tmp_path))
        return rec.conf.values

    def test_bloom_filter_gates_are_set(self, tmp_path):
        vals = self._tune(tmp_path, 17 * MiB)
        assert vals[
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"] == str(64 * MiB)
        assert vals[
            "spark.sql.optimizer.runtime.bloomFilter."
            "creationSideThreshold"] == str(200 * MiB)

    def test_split_fans_largest_table_across_cores(self, tmp_path):
        vals = self._tune(tmp_path, 96 * MiB, cpus=32)
        split = int(vals["spark.sql.files.maxPartitionBytes"])
        assert split == max(4 * MiB, 96 * MiB // 96)  # floor wins here
        vals = self._tune(tmp_path, 9600 * MiB, cpus=32)
        assert int(vals["spark.sql.files.maxPartitionBytes"]) == \
            9600 * MiB // 96

    def test_shuffle_partitions_scale_with_input(self, tmp_path):
        vals = self._tune(tmp_path, 17 * MiB, cpus=32)
        assert int(vals["spark.sql.shuffle.partitions"]) == 8  # cpus//4
        vals = self._tune(tmp_path, 100 * GiB, cpus=32)
        assert int(vals["spark.sql.shuffle.partitions"]) == 128  # 4*cpus


class TestContractLine:
    """bench.py prints one JSON line; a capture window may keep as little
    as the last ~2000 characters of stdout, so the line must fit whole."""

    def test_full_headline_suite_fits_the_capture_window(self):
        import json
        from datafusion_ducklake_spark.queries import headline_queries
        wall = {n: 12.3456 for n in headline_queries()}
        duck = {n: 1.2345 for n in wall}
        line = bench._contract_line(wall, 0.1, 0.2054, duck)
        assert "\n" not in line and len(line) <= 1950
        parsed = json.loads(line)
        for key in ("metric", "value", "unit", "queries", "sf",
                    "floor_sec", "duckdb_total", "ratio_vs_duckdb_raw"):
            assert key in parsed
        assert parsed["queries"] == {n: 12.346 for n in wall}
        assert parsed["ratio_vs_duckdb_raw"] == 10.0
