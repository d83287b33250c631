"""database_size introspection + parameterized queries (prepared-
statement parity; ref corpus: sql/general/)."""

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.errors import InvalidConfig
from datafusion_ducklake_spark.metadata.writer import CatalogWriter


@pytest.fixture()
def dl(spark, tmp_path):
    db = str(tmp_path / "cat.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    s = DuckLakeSession(spark, db)
    s.create_table("main.t", spark.range(100).selectExpr(
        "id", "id % 7 AS grp"))
    return s


def test_database_size(dl):
    row = dl.sql("SELECT * FROM ducklake_database_size()").collect()[0]
    assert row["data_size_bytes"] > 0
    assert row["metadata_size_bytes"] > 0
    assert row["file_count"] == 1


def test_parameterized_sql(dl):
    dl.register_views()
    assert dl.sql("SELECT count(*) AS n FROM t WHERE grp = ?",
                  [3]).collect()[0]["n"] == 14
    assert dl.sql("SELECT count(*) AS n FROM t WHERE id < :hi AND grp = :g",
                  {"hi": 50, "g": 0}).collect()[0]["n"] == 8
    with pytest.raises(InvalidConfig, match="not DML"):
        dl.sql("DELETE FROM t WHERE grp = ?", [1])


def test_at_timestamp_time_travel(dl, spark):
    """AT (TIMESTAMP => ...) resolves to the newest snapshot at-or-before
    the given time (lexicographic over ISO snapshot_time)."""
    import sqlite3
    dl.insert_into("main.t", spark.range(5).selectExpr(
        "id", "id % 7 AS grp"))
    # deterministic snapshot times: restamp them 1 minute apart
    con = sqlite3.connect(dl.catalog_path)
    snaps = [r[0] for r in con.execute(
        "SELECT snapshot_id FROM ducklake_snapshot ORDER BY snapshot_id")]
    for i, sid in enumerate(snaps):
        con.execute(
            "UPDATE ducklake_snapshot SET snapshot_time = ? "
            "WHERE snapshot_id = ?", (f"2024-01-01 10:{i:02d}:00", sid))
    con.commit()
    con.close()
    dl.refresh()
    # the second-to-last snapshot is the 100-row create
    ts = f"2024-01-01 10:{len(snaps) - 2:02d}:30"
    n = dl.sql("SELECT count(*) AS n FROM t "
               f"AT (TIMESTAMP => '{ts}')").collect()[0]["n"]
    assert n == 100
    assert dl.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 105

    import pytest as _pytest

    from datafusion_ducklake_spark.errors import InvalidConfig as _IC
    with _pytest.raises(_IC, match="No snapshot found"):
        dl.sql("SELECT * FROM t AT (TIMESTAMP => '1999-01-01 00:00:00')")


def test_rename_on_legacy_pk_catalog(dl, spark):
    """Catalogs created before MVCC renames carry a table_id PRIMARY KEY;
    rename must rebuild the table and succeed (review fix)."""
    import sqlite3
    con = sqlite3.connect(dl.catalog_path)
    # recreate ducklake_table WITH the legacy primary key
    rows = con.execute("SELECT table_id, schema_id, table_name, path, "
                       "path_is_relative, begin_snapshot, end_snapshot "
                       "FROM ducklake_table").fetchall()
    con.execute("DROP TABLE ducklake_table")
    con.execute(
        "CREATE TABLE ducklake_table (table_id INTEGER PRIMARY KEY, "
        "schema_id INTEGER NOT NULL, table_name VARCHAR NOT NULL, "
        "path VARCHAR NOT NULL DEFAULT '', "
        "path_is_relative BOOLEAN NOT NULL DEFAULT 1, "
        "begin_snapshot INTEGER NOT NULL, end_snapshot INTEGER)")
    con.executemany("INSERT INTO ducklake_table VALUES (?,?,?,?,?,?,?)",
                    rows)
    con.commit()
    con.close()
    dl.refresh()
    dl.sql("ALTER TABLE t RENAME TO t_new")
    assert dl.table("main.t_new").count() == 100


def test_sql_functions_track_refresh(dl, spark):
    """ducklake_current_snapshot()/snapshots() must follow the session
    pin across writes (review fix: stale UDTF closures)."""
    before = dl.sql(
        "SELECT snapshot_id FROM ducklake_current_snapshot()"
    ).collect()[0][0]
    dl.insert_into("main.t", spark.range(3).selectExpr(
        "id", "id % 7 AS grp"))
    after = dl.sql(
        "SELECT snapshot_id FROM ducklake_current_snapshot()"
    ).collect()[0][0]
    assert after == before + 1


def test_drop_schema_cascade_ends_all_rows(dl, spark):
    """CASCADE must end column/delete-file/view rows too, or cleanup
    never reclaims them (review fix)."""
    import sqlite3
    dl.sql("CREATE SCHEMA scx")
    dl.sql("CREATE TABLE scx.t1 AS SELECT CAST(1 AS INT) AS a")
    dl.sql("DELETE FROM scx.t1 WHERE a = 1")      # makes a delete file
    dl.sql("DROP SCHEMA scx CASCADE")
    con = sqlite3.connect(dl.catalog_path)
    tid = con.execute(
        "SELECT table_id FROM ducklake_table WHERE table_name = 't1'"
    ).fetchone()[0]
    for tbl in ("ducklake_table", "ducklake_column",
                "ducklake_data_file", "ducklake_delete_file"):
        live = con.execute(
            f"SELECT count(*) FROM {tbl} WHERE table_id = ? "
            "AND end_snapshot IS NULL", (tid,)).fetchone()[0]
        assert live == 0, tbl
    con.close()


def test_show_tables_and_describe(dl, spark):
    dl.sql("CREATE SCHEMA aux2")
    dl.sql("CREATE TABLE aux2.other (x INTEGER)")
    rows = {(r["schema_name"], r["table_name"])
            for r in dl.sql("SHOW TABLES").collect()}
    assert ("main", "t") in rows and ("aux2", "other") in rows
    assert {r["table_name"] for r in
            dl.sql("SHOW TABLES FROM aux2").collect()} == {"other"}
    desc = {r["column_name"]: (r["column_type"], r["null"])
            for r in dl.sql("DESCRIBE t").collect()}
    assert desc["id"][0] == "int64"
    assert desc["grp"][1] == "YES"


def test_quoted_identifiers(dl, spark, tmp_path):
    """sql/catalog/quoted_identifiers.test: table and column names with
    embedded single quotes, double quotes, and spaces work end-to-end —
    catalog rows, on-disk table directory, read-back, insert, drop.
    DIVERGENCE (documented): the upstream test drives these through
    DuckDB's SQL parser; our SQL shim requires word-character names, so
    the contract is pinned at the Python API (the primary surface)."""
    tname = 'main.quoted \'table\' "name"'
    cname = 'quoted \'column\' "name"'
    dl.create_table(tname, spark.createDataFrame([(1,)], [cname]))
    dl.insert_into(tname, spark.createDataFrame([(2,)], [cname]))
    rows = sorted(r[cname] for r in dl.table(tname).collect())
    assert rows == [1, 2]
    # the catalog row carries the raw name; info surfaces render it
    infos = {r["table_name"] for r in dl.sql(
        "SELECT table_name FROM ducklake_table_info()").collect()}
    assert 'quoted \'table\' "name"' in infos
    dl.drop_table(tname)
    with pytest.raises(Exception):
        dl.table(tname).collect()


def test_rollback_removes_staged_files(dl, spark, tmp_path):
    """sql/transaction/transaction_conflict_cleanup.test: files written
    by a transaction that never commits are removed from disk when it
    rolls back (upstream cleans a conflicted txn's staged files the same
    way) — and the orphan sweep then finds nothing left over."""
    import glob as _glob

    before = set(_glob.glob(f"{tmp_path}/lake/**/*.parquet",
                            recursive=True))
    dl.begin_transaction()
    dl.sql("CREATE TABLE txn_t (s VARCHAR)")
    dl.sql("INSERT INTO txn_t VALUES ('hello'), ('world')")
    staged = set(_glob.glob(f"{tmp_path}/lake/**/*.parquet",
                            recursive=True)) - before
    assert staged, "the txn-local insert must stage a parquet file"
    dl.rollback()
    after = set(_glob.glob(f"{tmp_path}/lake/**/*.parquet",
                           recursive=True))
    assert after == before, f"staged files must be cleaned: {after - before}"
    assert dl.delete_orphaned_files(dry_run=True, cleanup_all=True) == []
    # the table is gone; pre-txn data is intact
    with pytest.raises(Exception):
        dl.table("main.txn_t").collect()
    assert dl.table("main.t").count() == 100


def test_rollback_spares_concurrent_sessions_commits(dl, spark, tmp_path):
    """A ROLLBACK rewinds only the snapshots ITS transaction created
    (the writers' on_snapshot bookkeeping): another session's commits
    landing after the anchor survive both the catalog rewind and the
    disk cleanup."""
    import glob as _glob

    from datafusion_ducklake_spark.catalog import DuckLakeSession

    dl.begin_transaction()
    dl.sql("CREATE TABLE mine (v INTEGER)")
    dl.sql("INSERT INTO mine VALUES (1)")

    other = DuckLakeSession(dl.spark, str(tmp_path / "cat.sqlite"))
    other.sql("CREATE TABLE theirs (w INTEGER)")
    other.sql("INSERT INTO theirs VALUES (7), (8)")
    theirs_files = set(_glob.glob(f"{tmp_path}/lake/main/theirs/*.parquet"))
    assert theirs_files

    dl.rollback()
    # our txn's table and staged file are gone ...
    assert not _glob.glob(f"{tmp_path}/lake/main/mine/*.parquet")
    with pytest.raises(Exception):
        dl.table("main.mine").collect()
    # ... the other session's commit is intact, catalog AND disk
    assert set(_glob.glob(
        f"{tmp_path}/lake/main/theirs/*.parquet")) == theirs_files
    dl.refresh()
    assert sorted(r["w"] for r in dl.table("main.theirs").collect()) == [7, 8]
