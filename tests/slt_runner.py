"""Mini hybrid sqllogictest harness (port of the reference's shape:
tests/hybrid_asyncdb.rs + tests/sqllogictest_runner.rs).

The reference routes writes (CREATE/INSERT/UPDATE/DELETE/MERGE) to DuckDB's
ducklake extension and every SELECT through the engine under test over the
same catalog. The ducklake extension is not installable offline, so the
hybrid seam moves one level up: DuckDB executes writes against its own
database; after each write the affected tables are synchronized into a
real DuckLake catalog (one snapshot per sync, via our write path); every
``query`` directive then runs through BOTH DuckLakeSession.sql and DuckDB,
and results must match exactly (sorted, type-normalized).

File dialect (subset of sqllogictest):
    statement ok          -- next lines (to blank) run as a write
    statement engine      -- the ENGINE executes the write (dl.sql DML);
                             resulting table state syncs back into DuckDB
                             (the reverse seam — exercises OUR delete/
                             update/insert paths inside the corpus)
    query                 -- next lines (to blank) = SELECT, run on both
    compact <table>       -- engine-side maintenance (DuckLakeSession.compact)
    snapshot <name>       -- record the current catalog snapshot id AND
                             copy DuckDB's current state into schema
                             snap_<name> (time-travel baseline)
    query at <name>       -- run on the engine pinned at <name>'s snapshot
                             (ref: sql/time_travel/) vs DuckDB reading the
                             snap_<name> copy — both see the as-of state
    query_engine          -- engine-only query; expected rows follow a
                             ``----`` separator, tab-separated (for
                             metadata functions DuckDB can't run, e.g.
                             ducklake_snapshots() — ref: sql/snapshot_info/)
    # comment / blank     -- ignored
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from pathlib import Path

import duckdb


@dataclass
class SltCase:
    kind: str               # statement|query|compact|snapshot|query_at|query_engine
    sql: str
    line: int
    arg: str = ""           # snapshot name for snapshot/query_at
    expected: list[list[str]] = field(default_factory=list)


def parse_slt(path: str) -> list[SltCase]:
    cases = []
    lines = Path(path).read_text().splitlines()
    i = 0
    while i < len(lines):
        line = lines[i].strip()
        if not line or line.startswith("#"):
            i += 1
            continue
        if line.startswith("compact "):
            # engine-side maintenance directive (ref: sql/compaction/):
            # rewrite the named table through DuckLakeSession.compact()
            cases.append(SltCase("compact", line.split(None, 1)[1], i + 1))
            i += 1
            continue
        if line.startswith("snapshot "):
            cases.append(SltCase("snapshot", "", i + 1,
                                 arg=line.split(None, 1)[1].strip()))
            i += 1
            continue
        m = re.fullmatch(r"query at (\w+)", line)
        if line in ("statement ok", "query", "query_engine",
                    "statement engine", "statement engine error",
                    "statement engine2", "statement engine2 error") or m:
            if m:
                kind, arg = "query_at", m.group(1)
            else:
                kind = {"statement ok": "statement", "query": "query",
                        "statement engine": "statement_engine",
                        "statement engine error": "statement_engine_error",
                        "statement engine2": "statement_engine2",
                        "statement engine2 error": "statement_engine2_error",
                        "query_engine": "query_engine"}[line]
                arg = ""
            start = i + 1
            body, expected = [], []
            i += 1
            while i < len(lines) and lines[i].strip() != "":
                body.append(lines[i])
                i += 1
            if kind == "query_engine" or (
                    kind in ("statement_engine_error",
                             "statement_engine2_error")
                    and "----" in [b.strip() for b in body]):
                # body splits at the sqllogictest ``----`` separator:
                # SQL above, tab-separated expected rows below (for
                # query_engine) or an expected error substring (for
                # statement engine error — ref sqllogictest dialect)
                if "----" not in [b.strip() for b in body]:
                    raise ValueError(f"{path}:{start}: query_engine "
                                     "requires a ---- expected block")
                sep = [b.strip() for b in body].index("----")
                if kind in ("statement_engine_error",
                            "statement_engine2_error"):
                    arg = "\n".join(b.strip() for b in body[sep + 1:])
                else:
                    expected = [r.split("\t") for r in body[sep + 1:]]
                body = body[:sep]
            cases.append(SltCase(kind, "\n".join(body), start + 1,
                                 arg=arg, expected=expected))
        else:
            raise ValueError(f"{path}:{i+1}: unknown directive {line!r}")
        i += 1
    return cases


_TABLE_RE = re.compile(
    r"\b(?:INSERT\s+INTO|UPDATE|DELETE\s+FROM|"
    r"CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\s*(?:IF\s+NOT\s+EXISTS)?|"
    r"MERGE\s+INTO|"
    r"ALTER\s+TABLE|TRUNCATE(?:\s+TABLE)?|"
    r"DROP\s+TABLE(?:\s+IF\s+EXISTS)?)\s+"
    r"([A-Za-z_][\w]*(?:\.[A-Za-z_][\w]*)?)",
    re.IGNORECASE)

# engine maintenance CALLs that mutate one table's state (first quoted
# arg, schema qualifier preserved so the mirror lands in the right one)
_CALL_TABLE_RE = re.compile(
    r"\bCALL\s+ducklake_(?:add_data_files|flush_inlined_data"
    r"|rewrite_data_files)\s*\(\s*"
    r"'((?:\w+\.)?\w+)'", re.IGNORECASE)

# ALTER TABLE old RENAME TO new: the NEW name needs mirroring too (the
# old one falls out via the TableNotFound drop path)
_RENAME_TO_RE = re.compile(r"\bRENAME\s+TO\s+([A-Za-z_][\w.]*)",
                           re.IGNORECASE)


class HybridRunner:
    def __init__(self, spark, tmpdir: str):
        from datafusion_ducklake_spark.catalog import DuckLakeSession
        from datafusion_ducklake_spark.metadata.writer import CatalogWriter
        self.spark = spark
        self.duck = duckdb.connect()
        db = f"{tmpdir}/slt_catalog.sqlite"
        w = CatalogWriter.sqlite(db)
        w.initialize_schema(data_path=f"{tmpdir}/slt_lake")
        w.close()
        self.db_path = db
        self.tmpdir = tmpdir
        self.dl = DuckLakeSession(spark, db)
        self.dl2 = None       # lazy second session (concurrent-dir ports)
        self._known: set[str] = set()
        self._views: set[str] = set()          # engine-created view names
        self._snapshots: dict[str, int] = {}   # name -> pinned snapshot id

    def _second_session(self):
        """A SECOND DuckLakeSession over the same catalog (ref:
        sql/concurrent/ — the corpus's con1/con2 connections). Write-only
        executor (never registers temp views, so `query` directives keep
        flowing through the primary session) that deliberately does NOT
        auto-refresh: like a long-lived second connection its pin goes
        stale when engine1 writes — exactly the read-modify-write race
        the optimistic conflict check must catch. Its own successful
        writes re-pin it (the write paths refresh); after a rejected
        statement the error branch refreshes, modeling retry-after-
        conflict."""
        if self.dl2 is None:
            from datafusion_ducklake_spark.catalog import DuckLakeSession
            self.dl2 = DuckLakeSession(self.spark, self.db_path)
        return self.dl2

    def _sync(self, table: str) -> None:
        """Mirror one DuckDB table's current state into the DuckLake
        catalog (full-state snapshot per write statement)."""
        exists = self.duck.sql(
            "SELECT count(*) FROM information_schema.tables "
            f"WHERE table_name = '{table}'").fetchone()[0]
        if not exists:
            return
        arrow = self.duck.sql(f'SELECT * FROM "{table}"').arrow()
        if arrow.num_rows == 0:
            # duckdb emits zero-chunk columns for empty results, which
            # Spark's arrow path can't ingest; rebuild as 1-empty-chunk
            arrow = arrow.schema.empty_table()
        # query results are all-nullable: re-stamp NOT NULL constraints
        # from the source table definition so they reach the catalog
        nn = {r[0] for r in self.duck.sql(
            "SELECT column_name FROM information_schema.columns "
            f"WHERE table_name = '{table}' AND is_nullable = 'NO'"
        ).fetchall()}
        if nn:
            schema = arrow.schema
            for idx, f in enumerate(schema):
                if f.name in nn:
                    schema = schema.set(idx, f.with_nullable(False))
            arrow = arrow.cast(schema)
        try:
            sdf = self.spark.createDataFrame(arrow)  # pyspark 4: arrow-native
        except Exception:
            sdf = self.spark.createDataFrame(arrow.to_pandas())
        if table in self._known:
            self.dl.insert_into(f"main.{table}", sdf, overwrite=True)
        else:
            self.dl.create_table(f"main.{table}", sdf)
            self._known.add(table)

    def run_case(self, case: SltCase) -> None:
        if case.kind == "compact":
            self.dl.compact(f"main.{case.sql.strip()}")
            self.dl.refresh()
        elif case.kind == "snapshot":
            # time-travel baseline (ref: sql/time_travel/): pin the engine's
            # current snapshot id; freeze DuckDB's state in a shadow schema
            self._snapshots[case.arg] = \
                self.dl.provider.get_current_snapshot()
            self.duck.execute(
                f'CREATE SCHEMA IF NOT EXISTS "snap_{case.arg}"')
            for tbl in sorted(self._known):
                self.duck.execute(
                    f'CREATE OR REPLACE TABLE "snap_{case.arg}"."{tbl}" '
                    f'AS SELECT * FROM main."{tbl}"')
            # freeze views as materialized as-of state: a later CREATE OR
            # REPLACE VIEW in main must not leak into the pinned shadow
            for v in sorted(self._views):
                self.duck.execute(
                    f'CREATE OR REPLACE TABLE "snap_{case.arg}"."{v}" '
                    f'AS SELECT * FROM main."{v}"')
        elif case.kind == "query_at":
            from datafusion_ducklake_spark.catalog import DuckLakeSession
            snap = self._snapshots[case.arg]
            pinned = DuckLakeSession(self.spark, self.db_path,
                                     snapshot_id=snap)
            ours = pinned.sql(case.sql).toPandas()
            self.duck.execute(f"SET search_path = 'snap_{case.arg},main'")
            try:
                theirs = self.duck.sql(case.sql).df()
            finally:
                self.duck.execute("SET search_path = 'main'")
            self._compare(case, ours, theirs)
        elif case.kind in ("statement_engine_error",
                           "statement_engine2_error"):
            # the engine must REJECT this statement (ref: `statement error`
            # in the sqllogictest dialect); arg = expected message substring
            target = (self._second_session()
                      if case.kind == "statement_engine2_error" else self.dl)
            try:
                target.sql(case.sql)
            except Exception as e:
                if case.arg and case.arg not in str(e):
                    raise AssertionError(
                        f"line {case.line}: {case.sql!r} failed with "
                        f"{e!r}, expected substring {case.arg!r}") from e
            else:
                raise AssertionError(
                    f"line {case.line}: {case.sql!r} succeeded, "
                    "expected an error")
            target.refresh()
            self.dl.refresh()
        elif case.kind in ("statement_engine", "statement_engine2"):
            from datafusion_ducklake_spark.errors import (SchemaNotFound,
                                                          TableNotFound)
            ses = (self._second_session()
                   if case.kind == "statement_engine2" else self.dl)
            ses.sql(case.sql)              # our DML/DDL path writes the lake
            self.dl.refresh()
            avm = re.match(
                r"\s*ALTER\s+VIEW\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)",
                case.sql, re.I)
            if avm:
                # engine-side view rename mirrors verbatim (DuckDB has the
                # same ALTER VIEW ... RENAME TO syntax); best-effort for
                # engine-only schemas, as with CREATE VIEW below
                try:
                    self.duck.execute(case.sql)
                except Exception:
                    pass
                else:
                    self._views.discard(avm.group(1).rsplit(".", 1)[-1])
                    self._views.add(avm.group(2).rsplit(".", 1)[-1])
            vm = re.match(
                r"\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+"
                r"(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)"
                r"|\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?([\w.]+)",
                case.sql, re.I)
            if vm:
                # engine-side view DDL mirrors verbatim into DuckDB so
                # later `query` directives compare through the view on
                # both sides (view bodies in the corpus are dialect-common).
                # Best-effort: engine-only schemas (sql/view/
                # ducklake_view_schema.test) have no DuckDB counterpart —
                # such views stay engine-only (query_engine checks them).
                mirrored = True
                try:
                    self.duck.execute(case.sql)
                except Exception:
                    mirrored = False
                if mirrored:
                    name = (vm.group(1) or vm.group(2)).rsplit(".", 1)[-1]
                    if vm.group(1):
                        self._views.add(name)
                    else:
                        self._views.discard(name)
            sync_tables = dict.fromkeys(
                _TABLE_RE.findall(case.sql)
                + _CALL_TABLE_RE.findall(case.sql)
                + ([] if avm else _RENAME_TO_RE.findall(case.sql)))
            if re.match(r"\s*(ROLLBACK|COMMIT|BEGIN)\b", case.sql, re.I):
                # transaction boundary: the engine may have rewound any
                # table (including re-creating a dropped one) — resync
                # DuckDB's mirror of every known OR engine-live table
                snap = self.dl.provider.get_current_snapshot()
                live = [t.table_name if schema == "main"
                        else f"{schema}.{t.table_name}"
                        for schema, t
                        in self.dl.provider.list_all_tables(snap)]
                sync_tables = dict.fromkeys(
                    sorted(self._known | set(live)))
                self._known.update(live)
            for tbl in sync_tables:
                qual = tbl if "." in tbl else f"main.{tbl}"
                duck_ref = ('"{}"."{}"'.format(*tbl.split(".", 1))
                            if "." in tbl else f'"{tbl}"')
                try:
                    arrow = self.dl.table(qual).toArrow()
                except (TableNotFound, SchemaNotFound):
                    # engine-side DROP TABLE / DROP SCHEMA ... CASCADE
                    self.duck.execute(f"DROP TABLE IF EXISTS {duck_ref}")
                    self._known.discard(tbl)
                    continue
                if "." in tbl:
                    # mirror the engine's schema (sql/catalog/schema.test)
                    self.duck.execute(
                        'CREATE SCHEMA IF NOT EXISTS "{}"'.format(
                            tbl.split(".", 1)[0]))
                self.duck.register("__engine_sync", arrow)
                self.duck.execute(
                    f"CREATE OR REPLACE TABLE {duck_ref} AS "
                    "SELECT * FROM __engine_sync")
                self.duck.unregister("__engine_sync")
                self._known.add(tbl)
        elif case.kind == "query_engine":
            ours = self.dl.sql(case.sql).toPandas()
            self._compare_literal(case, ours)
        elif case.kind == "statement":
            self.duck.execute(case.sql)
            for tbl in dict.fromkeys(_TABLE_RE.findall(case.sql)):
                self._sync(tbl)
            self.dl.refresh()
        else:
            ours = self.dl.sql(case.sql).toPandas()
            theirs = self.duck.sql(case.sql).df()
            self._compare(case, ours, theirs)

    @staticmethod
    def _compare_literal(case: SltCase, ours) -> None:
        """Engine-only expectation: rows in result order, cells stringified
        with int-valued floats canonicalized (sqllogictest's text-compare)."""
        def cell(v):
            import numpy as np
            if isinstance(v, (list, tuple, np.ndarray)):
                return str([x for x in v])     # array cell rendering
            if v is None or v != v:     # None or NaN
                return "NULL"
            if isinstance(v, float) and v == int(v):
                return str(int(v))
            return str(v)
        got = [[cell(v) for v in row] for row in ours.itertuples(index=False)]
        want = case.expected
        assert got == want, (
            f"line {case.line}: {case.sql!r}: got {got!r}, want {want!r}")

    @staticmethod
    def _compare(case: SltCase, ours, theirs) -> None:
        import sys
        sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
        from check_correctness import compare
        problems = compare(f"slt:{case.line}", ours, theirs,
                           strict_dtypes=False)
        assert not problems, f"line {case.line}: {case.sql!r}: {problems}"

    def run_file(self, path: str) -> int:
        n = 0
        for case in parse_slt(path):
            # the reference dialect's test-dir placeholder: corpus files
            # stage external parquet under the runner's tmpdir
            if "__TEST_DIR__" in case.sql:
                case.sql = case.sql.replace("__TEST_DIR__", self.tmpdir)
            self.run_case(case)
            n += 1
        return n

    def close(self):
        self.duck.close()


if __name__ == "__main__":
    # direct CLI: `python tests/slt_runner.py tests/slt/foo.test [...]`
    # (without this block the module exits 0 silently — the pytest
    # parametrization in tests/test_sqllogic.py is the canonical entry)
    import sys
    import tempfile

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

    from pyspark.sql import SparkSession

    files = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not files:
        print("usage: python tests/slt_runner.py <file.test> [...]")
        sys.exit(2)
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    failed = 0
    for f in files:
        with tempfile.TemporaryDirectory() as td:
            r = HybridRunner(spark, td)
            try:
                n = r.run_file(f)
                print(f"PASS {f} ({n} cases)")
            except Exception as e:
                failed += 1
                print(f"FAIL {f}: {e}")
            finally:
                r.close()
    sys.exit(1 if failed else 0)
