"""Deterministic synthetic TPC-H-ish tables for the benchmark.

``orders`` has the schema and value domains of the repository's query
suite. Every value is a function of the row key through DuckDB's ``hash``,
so one scale always gives byte-identical Parquet files; the workload seed
never changes the data, only the operations run over it.
"""

from __future__ import annotations

import os
import shutil

import duckdb

TABLES = ("orders",)

# bump when the generated data changes, so cached copies are rebuilt
VERSION = 1

_PRIORITIES = "['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']"


def _h(expr: str, salt: int) -> str:
    """Deterministic non-negative pseudo-random integer of ``expr``."""
    return f"CAST(hash({expr}, {salt}) % 1000000007 AS BIGINT)"


def _statements(sf: float) -> dict[str, str]:
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    return {
        "orders": f"""
            SELECT i AS o_orderkey, {_h('i', 11)} % {n_cust} AS o_custkey,
              ['F', 'O', 'P'][{_h('i', 12)} % 3 + 1] AS o_orderstatus,
              (100000 + {_h('i', 13)} % 49900000) / 100.0 AS o_totalprice,
              TIMESTAMP '1995-01-01' + to_days(CAST({_h('i', 14)} % 2404
                AS INTEGER)) AS o_orderdate,
              {_PRIORITIES}[{_h('i', 15)} % 5 + 1] AS o_orderpriority
            FROM range({n_ord}) t(i)""",
    }


def ensure_tables(root: str, sf: float) -> str:
    """Generate the tables for ``sf`` under ``root`` once; return the dir.

    Built into a sibling temp dir and renamed into place, so an interrupted
    build never leaves a partial directory that a later run would trust.
    """
    out = os.path.join(root, f"sf{sf:g}-v{VERSION}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute("SET enable_progress_bar = false")
        con.execute(f"SET temp_directory = '{tmp}/.duckdb_tmp'")
        for name, sql in _statements(sf).items():
            con.execute(f"COPY ({sql}) TO '{tmp}/{name}.parquet' "
                        "(FORMAT PARQUET, COMPRESSION SNAPPY)")
    finally:
        con.close()
    shutil.rmtree(f"{tmp}/.duckdb_tmp", ignore_errors=True)
    os.rename(tmp, out)
    return out
