"""Benchmark harness: the headline suite against DuckDB on the same data.

Prints ONE JSON line. Contract keys: metric/value/unit/queries/sf — the
headline suite wall over the parquet directory $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data), local[$SPARK_GRAFT_CPUS]. The other keys
follow the reference's benchmark methodology (benchmark/src/main.rs,
report.rs:38-49):

- floor_sec: the empty-job floor, median wall of a trivial job with one
  no-op task per core. At small sf each query's wall is dominated by this
  fixed Python<->JVM + scheduling cost, not by throughput.
- duckdb_total / ratio_vs_duckdb_raw: the same queries' oracle SQL timed
  in-process (warmed, threads=cpus). The reference's headline metric is
  the engine/DuckDB ratio on identical data (report.rs:38-49: <1.5x three
  stars, <3x two, <5x one).

Catalog-path performance (dl.sql, refresh, DML, CDC) is measured by
perfbench/ (BENCHMARK.json), not here.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from datafusion_ducklake_spark.queries import headline_queries, oracle_queries
from datafusion_ducklake_spark.queries._util import TABLES, set_exact_sums
from datafusion_ducklake_spark.sparkutil import build_spark

ITERATIONS = 3     # reference default is 5 (benchmark/src/main.rs:55)


def _parse_size(s: str) -> int:
    """'16g' / '512m' / '1024' (bytes) → bytes, the same suffix grammar
    Spark's memory confs accept (k/m/g/t, case-insensitive)."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", s.lower())
    if not m:
        raise ValueError(f"unparseable size {s!r}")
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20,
            "g": 1 << 30, "t": 1 << 40}[m.group(2)]
    return int(m.group(1)) * mult


def _measure_floor(spark, cpus: int) -> float:
    """Fixed per-query overhead: a job with no data and `cpus` no-op tasks
    (scheduling + Python<->JVM round trip), median of 7."""
    runs = []
    for _ in range(7):
        t0 = time.perf_counter()
        spark.range(0, cpus, 1, cpus).count()
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 4)


def _materialize(df) -> None:
    """Fully execute + materialize results driver-side as Arrow — the
    reference's runners consume native Arrow batches (runner.rs), and the
    DuckDB side is timed with .arrow() for symmetry. (.collect()'s Python
    Row-object construction is a PySpark-only artifact that would bill
    ~3s/1M rows to Spark and nothing comparable to DuckDB.)"""
    df.toArrow()


def _shj_conversion_threshold(total_bytes: int, cpus: int,
                              offheap_bytes: int) -> str:
    """AQE's SMJ→shuffled-hash conversion threshold, derived from the
    memory envelope instead of a constant. The conversion skips the
    sort (~30% on the fact-dim joins at suite scale), but the hash
    build it creates (LongToUnsafeRowMap) CANNOT spill — grow() needs a
    contiguous execution-memory acquire — and in local mode every
    concurrent task's build, every aggregation map, and every broadcast
    build share ONE off-heap pool. Measured at SF30-equivalent
    (PLANS.md round-10 scale-trend): with ~4.9 GB of input, EVERY
    threshold that allowed conversion (64m/128m/256m, at 128 AND 512
    shuffle partitions) hard-failed q18 with "Can't acquire 67108864
    bytes to build hash relation", while threshold 0 (sort-merge, which
    spills) completed every rep — the threshold compares COMPRESSED
    shuffle bytes while the build expands ~4x in memory.
    Rule: allow conversion only while the projected concurrent build
    memory — cpus tasks × (total/parts ≈ 32 MB compressed per reduce
    partition) × 4x expansion ≈ total·4·cpus/parts ≈ total (with
    parts ≈ 4·cpus) — fits with equal headroom for agg maps and
    broadcast builds inside a quarter of the pool: total·8 ≤ offheap.
    At the 16 GiB default the bound is 2 GiB of input, which keeps
    every measured tier as it ran (sf0.1 17 MB, SF1 0.2 GB, SF3 0.5 GB,
    SF10 1.7 GB — five rounds green at 256m) and turns the conversion
    OFF before the empirically failing regime (SF30 = 4.9 GB). Explicit
    shuffle_hash HINTS are unaffected and stay safe at SF30 — their
    builds are small filtered/deduped slices, sized in each query's
    docstring — q05 with its hint beat the no-hint sort-merge 14.2 vs
    17.7 s min at SF30."""
    if total_bytes * 8 <= offheap_bytes:
        return "256m"
    return "0"


def _tune_for_dir(spark, sf_dir: str) -> None:
    """Size scan splits so the largest table fans out across all cores
    (a 1-file table must not become a 1-task scan), and keep dimension
    joins broadcast at any tested scale."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sizes = [os.path.getsize(os.path.join(sf_dir, f))
             for f in os.listdir(sf_dir) if f.endswith(".parquet")]
    largest, total = max(sizes, default=0), sum(sizes)
    split = max(4 * 1024 * 1024, largest // (3 * cpus))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    # Shuffle partitions sized from the input, not a constant: target
    # ~32 MB of (compressed) input per reduce partition, floored at
    # cpus/4 and capped at 4*cpus. At suite scale the shuffles are tens
    # of MB — 8 partitions beat 32 by ~15% (measured: less task-launch
    # and shuffle-file overhead); at cluster scale the same rule grows
    # into the thousands. AQE coalescing still adapts per stage.
    parts = min(4 * cpus, max(cpus // 4, total // (32 * 1024 * 1024)))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    # SMJ→shuffled-hash conversion: memory-budget-gated (see
    # _shj_conversion_threshold — the constant 256m hard-failed q18 at
    # SF30-equivalent because the conversion's hash build cannot spill).
    offheap = _parse_size(os.environ.get("SPARK_GRAFT_OFFHEAP", "16g"))
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        _shj_conversion_threshold(total, cpus, offheap))
    # 24 MB: dimension tables (customer at SF1 ~ 15 MB on disk) stay
    # broadcast, while AQE can't "promote" a multi-million-row filtered
    # fact side to broadcast (measured: 64 MB regressed q04 3x).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                   str(24 * 1024 * 1024))
    # Runtime bloom-filter join reduction: under Spark's defaults the
    # application-side gate is 10 GB, so the optimization never fires at
    # bench scale even where it is the designed remedy (a bloom built on
    # a small filtered build side prunes the fact scan BEFORE its
    # shuffle+sort). Lower the gates and let Spark's own per-join size
    # check do the scaling: blooms inject only where the probe-side scan
    # exceeds 64 MB and the build-side plan stays under 200 MB, and the
    # broadcast bitmap itself is capped by bloomFilter.maxNumBits (8 MB)
    # regardless of scale. Measured (PLANS.md round-10 scale-trend A/B):
    # SF30 q04 33.7 -> 9.8 s min; SF10 warm min walls q04 -9%, q05 -15%,
    # q10 -26%, q03 flat. At sf0.1 no scan crosses 64 MB, so inert there.
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold", str(64 * 1024 * 1024))
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        str(200 * 1024 * 1024))


def _time_spark_suite(spark, sf_dir: str) -> dict:
    """Mean wall per headline query (DataFrame build + plan + execute +
    Arrow materialization) over ITERATIONS warm runs."""
    _tune_for_dir(spark, sf_dir)
    queries = headline_queries()
    for fn in queries.values():          # warmup: JIT/codegen + file listing
        _materialize(fn(spark, sf_dir))
    wall = {}
    for name, fn in queries.items():
        runs = []
        for _ in range(ITERATIONS):
            t0 = time.perf_counter()
            _materialize(fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        wall[name] = round(sum(runs) / len(runs), 4)
    return wall


def _time_duckdb_suite(sf_dir: str, names, cpus: int) -> dict:
    """Time the SAME queries' oracle SQL in-process, warmed, with Arrow
    materialization like the Spark side."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={cpus}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    oracles = oracle_queries()
    out = {}
    try:
        for name in names:
            sql = oracles.get(name)
            if sql is None:
                continue
            con.execute(sql).arrow()  # warm
            runs = []
            for _ in range(ITERATIONS):
                t0 = time.perf_counter()
                con.execute(sql).arrow()
                runs.append(time.perf_counter() - t0)
            out[name] = round(sum(runs) / len(runs), 4)
    finally:
        con.close()
    return out


def _ratio(spark_times: dict, duck_times: dict) -> float | None:
    common = [n for n in spark_times if n in duck_times]
    if not common:
        return None
    s = sum(spark_times[n] for n in common)
    d = sum(duck_times[n] for n in common)
    return round(s / d, 2) if d > 0 else None


def _contract_line(wall: dict, sf, floor: float, duck: dict) -> str:
    """The one JSON line bench.py prints."""
    return json.dumps({
        "metric": "headline_suite_wall",
        "value": round(sum(wall.values()), 4),
        "unit": "sec",
        "queries": {n: round(t, 3) for n, t in wall.items()},
        "sf": sf,
        "floor_sec": floor,
        "duckdb_total": round(sum(duck.values()), 4),
        "ratio_vs_duckdb_raw": _ratio(wall, duck),
    }, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = build_spark("ducklake-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Native double aggregation for the timed runs: the decimal(38,6)-sum
    # mode exists solely to make the DuckDB hash-compare bit-exact; the
    # baseline engine sums native doubles, so this is the like-for-like
    # configuration. Row counts/semantics are identical in both modes.
    set_exact_sums(False)

    floor = _measure_floor(spark, cpus)
    wall = _time_spark_suite(spark, sf_dir)
    duck = _time_duckdb_suite(sf_dir, list(wall), cpus)
    print(_contract_line(wall, sf, floor, duck))


if __name__ == "__main__":
    main()
