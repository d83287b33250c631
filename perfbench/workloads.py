"""The benchmark's workloads: lake set-up, seeded operations, and oracles.

Each workload builds a DuckLake catalog (SQLite) over Parquet and yields
operations for a closed loop with one client. Operations reach the library
only through ``DuckLakeSession.sql`` / ``refresh`` / ``list_files``; the
set-up uses the public write API (``create_empty_table`` / ``add_files``).
Every result is checked against DuckDB running over the same Parquet data.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable, Iterator, Optional

import duckdb

@dataclass
class Op:
    kind: str                  # "read" or "write"
    tag: str                   # operation type: query name, insert, cdc, ...
    label: str                 # ops with one label must return one result
    sql: Optional[str] = None
    call: Optional[Callable] = None   # instead of sql: fn(session) -> DataFrame
    refresh: bool = False      # pin the latest snapshot first


ROUND_END = None   # yielded between rounds; the loop may stop only there


def _describe(con, path: str) -> str:
    cols = con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()
    return ", ".join(f"{c[0]} {c[1]}" for c in cols)


class Workload:
    name = ""
    # registry names of the tables the lake registers with add_files
    tables: tuple[str, ...] = ()
    # untimed rounds on the measured lake before the window, where the
    # first rounds of a fresh lake run at a different speed than later ones
    settle_rounds = 0
    # scale factor of the generated tables: 15k orders. Statements cost
    # about the same at 150k (their time is mostly per-statement overhead),
    # and the smaller table leaves room for more reads per round
    scale = 0.01

    def __init__(self, data_dir: str, seed: int, compare):
        self.data_dir = data_dir
        self.seed = seed
        self.compare = compare          # tools/check_correctness.compare
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")

    def close(self) -> None:
        self.con.close()

    def _register(self, dl, name: str, path: str) -> None:
        dl.create_empty_table(name, _describe(self.con, path))
        dl.add_files(name, [path])

    def build(self, spark, lake_dir: str):
        """Create the catalog and data under ``lake_dir``; return the
        session with its views registered."""
        from datafusion_ducklake_spark.catalog import DuckLakeSession
        os.makedirs(lake_dir)
        dl = DuckLakeSession(spark, os.path.join(lake_dir, "catalog.sqlite"),
                             data_path=os.path.join(lake_dir, "data"))
        for t in self.tables:
            self._register(dl, t, os.path.join(self.data_dir, f"{t}.parquet"))
        self.populate(dl, lake_dir)
        dl.register_views()
        return dl

    def populate(self, dl, lake_dir: str) -> None:
        """Workload-specific tables beyond ``tables``."""

    def ops(self, dl) -> Iterator[Optional[Op]]:
        raise NotImplementedError

    def check(self, op: Op, result) -> list[str]:
        """Problems with one op's Arrow result (empty list: correct)."""
        raise NotImplementedError

    def finish(self, dl) -> list[str]:
        """Checks that need the state after the last op."""
        return []

    def round_stat(self, dl) -> Optional[int]:
        """A count taken after every traced round (None: nothing)."""
        return None

    def storage_metrics(self, dl, bytes_added: int, user_rows: int,
                        scratch: str) -> dict[str, float]:
        """write_amp / space_amp, for workloads that write."""
        return {}

    def _compare_sql(self, op: Op, result, oracle_sql: str) -> list[str]:
        expected = self.con.execute(oracle_sql).df()
        return self.compare(op.tag, result.to_pandas(), expected,
                            strict_dtypes=False)


class FreshPointMeta(Workload):
    """Readers that re-pin the latest snapshot before every query: point
    lookups, time-travel lookups and catalog listings over a table built
    from K seeded appends (K snapshots, K files with column stats)."""

    name = "fresh_point_meta"
    # ops run fast for one round after a build, slow for the next, and
    # settle over the two after that
    settle_rounds = 4
    K = 8            # appends (snapshots and files)
    ROWS = 20_000    # rows per append; append j holds keys [j*ROWS, (j+1)*ROWS)

    def populate(self, dl, lake_dir):
        dl.create_empty_table("pts", "k BIGINT, v BIGINT, tag VARCHAR")
        self.snaps = []
        for j in range(self.K):
            path = os.path.join(lake_dir, f"append{j}.parquet")
            self.con.execute(
                f"COPY (SELECT k, CAST(hash(k, {self.seed}) % 1000000 AS "
                f"BIGINT) AS v, 'a{j}_' || (hash(k, {self.seed} + 1) % 97) "
                f"AS tag FROM range({j * self.ROWS}, {(j + 1) * self.ROWS}) "
                f"t(k) ORDER BY hash(k, {self.seed} + 2)) TO '{path}' "
                "(FORMAT PARQUET)")
            dl.add_files("pts", [path])
            self.snaps.append(dl.provider.get_current_snapshot())
        files = ", ".join(f"'{lake_dir}/append{j}.parquet'"
                          for j in range(self.K))
        self.con.execute("DROP TABLE IF EXISTS pts")
        self.con.execute(
            "CREATE TABLE pts AS SELECT *, CAST(regexp_extract(filename, "
            "'append(\\d+)', 1) AS INTEGER) AS batch "
            f"FROM read_parquet([{files}], filename = true)")

    def ops(self, dl):
        rng = random.Random(self.seed)
        n_keys = self.K * self.ROWS
        while True:
            round_ops = []
            for _ in range(6):
                k = rng.randrange(n_keys)
                round_ops.append(Op(
                    "read", "point", f"point:{k}", refresh=True,
                    sql=f"SELECT k, v, tag FROM pts WHERE k = {k}"))
            for _ in range(3):
                j = rng.randrange(self.K)
                lo = rng.randrange(n_keys - self.ROWS)
                round_ops.append(Op(
                    "read", "at_version", f"at:{j}:{lo}", refresh=True,
                    sql=f"SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS s "
                        f"FROM pts AT (VERSION => {self.snaps[j]}) "
                        f"WHERE k >= {lo} AND k < {lo + self.ROWS}"))
            round_ops.append(Op(
                "read", "info_schema", "info_schema", refresh=True,
                sql="SELECT table_name FROM information_schema.tables"))
            round_ops.append(Op(
                "read", "snapshots", "snapshots", refresh=True,
                sql="SELECT count(*) AS n FROM ducklake_snapshots()"))
            round_ops.append(Op(
                "read", "list_files", "list_files", refresh=True,
                call=lambda s: s.list_files("pts")))
            rng.shuffle(round_ops)
            yield from round_ops
            yield ROUND_END

    def check(self, op, result):
        if op.tag == "point":
            k = int(op.label.split(":")[1])
            return self._compare_sql(
                op, result, f"SELECT k, v, tag FROM pts WHERE k = {k}")
        if op.tag == "at_version":
            _, j, lo = op.label.split(":")
            return self._compare_sql(
                op, result,
                f"SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS s FROM pts "
                f"WHERE batch <= {j} AND k >= {lo} "
                f"AND k < {int(lo) + self.ROWS}")
        if op.tag == "info_schema":
            got = sorted(result.column("table_name").to_pylist())
            return [] if got == ["pts"] else [f"tables: {got}"]
        if op.tag == "snapshots":
            # the initial snapshot, CREATE TABLE, one per append
            n = result.column("n").to_pylist()
            return [] if n == [self.K + 2] else [f"snapshots: {n}"]
        if op.tag == "list_files":
            got = sorted(result.column("record_count").to_pylist())
            return [] if got == [self.ROWS] * self.K \
                else [f"list_files record counts: {got}"]
        return [f"unknown op {op.tag}"]


class MorWriteMix(Workload):
    """Rounds of SQL DML (INSERT…SELECT, DELETE, UPDATE, MERGE) on a copy
    of ``orders``, each statement followed by aggregate reads of the
    merge-on-read table, and the round's change feed at the end. A DuckDB
    replay of the same statements is the oracle."""

    name = "mor_write_mix"
    tables = ("orders",)
    # 49 reads a round: p90 then falls among the ordinary aggregate reads,
    # below the four slow ones (the change feed and the first read after
    # DELETE, UPDATE and MERGE), not between two single slow reads
    READS_PER_WRITE = 12
    AGG = ("SELECT o_orderstatus, count(*) AS n, "
           "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total "
           "FROM mt {where} GROUP BY o_orderstatus")
    FINAL = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
             "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
             "FROM {t}")

    def populate(self, dl, lake_dir):
        path = os.path.join(lake_dir, "mt.parquet")
        shutil.copyfile(os.path.join(self.data_dir, "orders.parquet"), path)
        self._register(dl, "mt", path)
        self.lake_dir = lake_dir
        self.con.execute("DROP TABLE IF EXISTS orders")
        self.con.execute("DROP TABLE IF EXISTS mt")
        self.con.execute(f"CREATE TABLE orders AS SELECT * FROM "
                         f"read_parquet('{self.data_dir}/orders.parquet')")
        self.con.execute("CREATE TABLE mt AS SELECT * FROM orders")
        self.changes: dict[str, int] = {}   # replayed changes since last cdc

    @staticmethod
    def _merge_source(r: int) -> str:
        return ("SELECT o_orderkey, o_custkey, o_orderstatus, "
                "o_totalprice * 2 AS o_totalprice, o_orderdate, "
                f"o_orderpriority FROM orders WHERE o_orderkey % 101 = {r}")

    def ops(self, dl):
        rng = random.Random(self.seed)
        rnd = 0
        while True:
            rnd += 1
            ins, dele = rng.randrange(100), rng.randrange(97)
            upd, mrg = rng.randrange(89), rng.randrange(101)
            s0 = dl.provider.get_current_snapshot()
            writes = [
                ("insert", f"INSERT INTO mt SELECT o_orderkey + {rnd * 1_000_000}, "
                 "o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
                 f"o_orderpriority FROM orders WHERE o_orderkey % 100 = {ins}"),
                ("delete", f"DELETE FROM mt WHERE o_orderkey % 97 = {dele}"),
                ("update", "UPDATE mt SET o_totalprice = o_totalprice + 1.0 "
                 f"WHERE o_custkey % 89 = {upd}"),
                ("merge", f"MERGE INTO mt USING ({self._merge_source(mrg)}) s "
                 "ON mt.o_orderkey = s.o_orderkey "
                 "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice "
                 "WHEN NOT MATCHED THEN INSERT *"),
            ]
            for tag, sql in writes:
                label = f"{tag}:{rnd}" + (f":{mrg}" if tag == "merge" else "")
                yield Op("write", tag, label, sql=sql)
                # the whole table, then seeded slices of it: more reads
                # per round than statements, so the read percentiles of a
                # one-round window rest on more than the slowest few
                for i in range(self.READS_PER_WRITE):
                    where = "" if i == 0 else (
                        f"WHERE o_custkey % 7 = {rng.randrange(7)}" if i % 2
                        else f"WHERE o_orderkey % 11 = {rng.randrange(11)}")
                    yield Op("read", "agg", f"agg:{rnd}:{tag}:{i}",
                             sql=self.AGG.format(where=where))
            s1 = dl.provider.get_current_snapshot()
            yield Op("read", "cdc", f"cdc:{rnd}", sql=(
                "SELECT change_type, count(*) AS n FROM "
                f"ducklake_table_changes('main.mt', {s0}, {s1}) "
                "GROUP BY change_type"))
            yield ROUND_END

    def _replay(self, op: Op) -> dict[str, int]:
        """Apply one write to the DuckDB replay; expected change counts."""
        if op.tag == "merge":
            src = self._merge_source(int(op.label.split(":")[2]))
            matched = self.con.execute(
                f"UPDATE mt SET o_totalprice = s.o_totalprice FROM ({src}) s "
                "WHERE mt.o_orderkey = s.o_orderkey").fetchone()[0]
            inserted = self.con.execute(
                f"INSERT INTO mt SELECT * FROM ({src}) s WHERE o_orderkey "
                "NOT IN (SELECT o_orderkey FROM mt)").fetchone()[0]
            return {"update": matched, "insert": inserted}
        n = self.con.execute(op.sql).fetchone()[0]
        return {op.tag: n}

    def check(self, op, result):
        if op.kind == "write":
            counts = self._replay(op)
            got = result.column(0).to_pylist()
            want = [sum(counts.values())]
            for kind, n in counts.items():
                self.changes[kind] = self.changes.get(kind, 0) + n
            return [] if got == want else [f"{op.label}: count {got} != {want}"]
        if op.tag == "agg":
            return self._compare_sql(op, result, op.sql)
        if op.tag == "cdc":
            ch = self.changes
            want = {k: v for k, v in {
                "insert": ch.get("insert", 0), "delete": ch.get("delete", 0),
                "update_preimage": ch.get("update", 0),
                "update_postimage": ch.get("update", 0)}.items() if v}
            self.changes = {}
            got = dict(zip(result.column("change_type").to_pylist(),
                           result.column("n").to_pylist()))
            return [] if got == want else [f"{op.label}: {got} != {want}"]
        return [f"unknown op {op.tag}"]

    def finish(self, dl):
        got = dl.sql(self.FINAL.format(t="mt")).toArrow()
        self.con.register("lake_final", got)
        try:
            diff = self.con.execute(
                f"SELECT count(*) FROM (({self.FINAL.format(t='mt')}) "
                "EXCEPT ALL (SELECT * FROM lake_final)) UNION ALL "
                "SELECT count(*) FROM ((SELECT * FROM lake_final) EXCEPT ALL "
                f"({self.FINAL.format(t='mt')}))").fetchall()
        finally:
            self.con.unregister("lake_final")
        missing, extra = diff[0][0], diff[1][0]
        if missing or extra:
            return [f"final table: {missing} rows missing, {extra} extra"]
        return []

    def round_stat(self, dl):
        """Live delete files of the table."""
        t = dl.list_files("mt").toArrow()
        return sum(1 for x in t.column("delete_file_id").to_pylist()
                   if x is not None)

    def storage_metrics(self, dl, bytes_added, user_rows, scratch):
        """``write_amp``: bytes added under the lake data path ÷ Arrow bytes
        of the rows the statements inserted or rewrote. ``space_amp``: live
        data + delete file bytes ÷ the same live rows (the replay's table)
        written once by DuckDB as one Parquet file with the lake's codec
        (snappy)."""
        sample = self.con.execute("SELECT * FROM mt LIMIT 10000").arrow()
        row_bytes = sample.nbytes / max(1, sample.num_rows)
        files = dl.list_files("mt").toArrow().to_pydict()
        live = sum(files["file_size_bytes"]) + sum(
            x or 0 for x in files["delete_file_size_bytes"])
        path = os.path.join(scratch, "space_ref.parquet")
        self.con.execute(f"COPY mt TO '{path}' "
                         "(FORMAT PARQUET, COMPRESSION SNAPPY)")
        once = os.path.getsize(path)
        os.remove(path)
        return {"write_amp": bytes_added / max(1.0, user_rows * row_bytes),
                "space_amp": live / once}


WORKLOADS = {w.name: w for w in (FreshPointMeta, MorWriteMix)}
