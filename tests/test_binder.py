"""The relation binder behind ``DuckLakeSession.sql``: a statement binds
only the relations it names, at its own session's pinned snapshot, and
``refresh()`` carries every bound frame forward that the snapshots since
the pin left untouched, rebuilding the rest."""

from __future__ import annotations

import ast
import shutil
import sqlite3
from pathlib import Path

import pytest

from datafusion_ducklake_spark import catalog as catalog_mod
from pyspark.sql import DataFrame

from datafusion_ducklake_spark.catalog import DuckLakeSession, DuckLakeTable
from datafusion_ducklake_spark.errors import InvalidConfig


def _count(dl, name):
    return dl.sql(f"SELECT count(*) AS n FROM {name}").collect()[0]["n"]


@pytest.fixture()
def to_df_calls(monkeypatch):
    """Names of the tables whose ``DuckLakeTable.to_df`` ran."""
    calls: list[str] = []
    real = DuckLakeTable.to_df

    def spy(self, *a, **kw):
        calls.append(self.meta.table_name)
        return real(self, *a, **kw)

    monkeypatch.setattr(DuckLakeTable, "to_df", spy)
    return calls


def test_head_and_pinned_sessions_each_read_their_own_rows(spark, tmp_path):
    """Two sessions on one SparkSession and one catalog, one at head and
    one pinned to an older snapshot: each statement reads its own
    session's snapshot, through the bare and the dotted name, whichever
    session ran last."""
    db = str(tmp_path / "c.sqlite")
    head = DuckLakeSession(spark, db)
    head.create_table("main.t", spark.range(3).selectExpr("id"))
    old = head.provider.get_current_snapshot()
    head.insert_into("main.t", spark.range(5).selectExpr("id"))
    pinned = DuckLakeSession(spark, db, snapshot_id=old)
    for _ in range(2):
        for name in ("t", "main.t"):
            assert _count(head, name) == 8
            assert _count(pinned, name) == 3
            assert _count(head, name) == 8


def test_two_catalogs_sharing_a_table_name(spark, tmp_path):
    a = DuckLakeSession(spark, str(tmp_path / "a.sqlite"))
    a.create_table("main.t", spark.range(2).selectExpr("id"))
    b = DuckLakeSession(spark, str(tmp_path / "b.sqlite"))
    b.create_table("main.t", spark.range(7).selectExpr("id"))
    for _ in range(2):
        for name in ("t", "main.t"):
            assert _count(a, name) == 2
            assert _count(b, name) == 7
    # a frame returned earlier keeps its own snapshot
    early = a.sql("SELECT count(*) AS n FROM t")
    assert _count(b, "t") == 7
    assert early.collect()[0]["n"] == 2


def test_sql_builds_only_the_named_table(spark, tmp_path, to_df_calls):
    dl = DuckLakeSession(spark, str(tmp_path / "c.sqlite"))
    for i in range(20):
        dl.create_empty_table(f"t{i}", "id BIGINT")
    dl.refresh()
    del to_df_calls[:]
    assert _count(dl, "t7") == 0
    assert to_df_calls == ["t7"]
    assert _count(dl, "main.t7") == 0       # same binding, no rebuild
    assert to_df_calls == ["t7"]


def test_refresh_rebuilds_only_bound_relations(spark, tmp_path, to_df_calls):
    """With no commit a refresh rebuilds nothing; after another session's
    commit it rebuilds the bound table that commit touched and no
    other."""
    db = str(tmp_path / "c.sqlite")
    dl = DuckLakeSession(spark, db)
    for name in ("a", "b", "c"):
        dl.create_table(f"main.{name}", spark.range(2).selectExpr("id"))
    assert _count(dl, "a") == 2 and _count(dl, "main.b") == 2
    del to_df_calls[:]
    dl.refresh()
    assert to_df_calls == []
    DuckLakeSession(spark, db).insert_into(
        "main.a", spark.range(3).selectExpr("id"))
    dl.refresh()
    assert to_df_calls == ["a"]
    assert _count(dl, "a") == 5 and _count(dl, "main.b") == 2


def test_refresh_shows_other_writers_rows_and_binds_nothing_else(
        spark, tmp_path, to_df_calls):
    db = str(tmp_path / "c.sqlite")
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.a", spark.range(2).selectExpr("id"))
    dl.create_table("main.b", spark.range(4).selectExpr("id"))
    assert _count(dl, "a") == 2
    writer = DuckLakeSession(spark, db)
    writer.insert_into("main.a", spark.range(3).selectExpr("id"))
    assert _count(dl, "a") == 2            # still at its pin
    del to_df_calls[:]
    dl.refresh()
    assert to_df_calls == ["a"]
    assert _count(dl, "a") == 5
    assert to_df_calls == ["a"]


def test_refresh_drops_views_of_dropped_tables(spark, tmp_path):
    dl = DuckLakeSession(spark, str(tmp_path / "c.sqlite"))
    dl.create_table("main.gone", spark.range(2).selectExpr("id"))
    assert _count(dl, "gone") == 2 and _count(dl, "main.gone") == 2
    DuckLakeSession(spark, dl.catalog_path).drop_table("main.gone")
    dl.refresh()
    for name in ("gone", "main__gone"):
        assert not spark.catalog.tableExists(name)
    with pytest.raises(Exception, match="gone"):
        dl.sql("SELECT * FROM gone").collect()


def test_time_travel_binding_survives_refresh(spark, tmp_path, to_df_calls):
    dl = DuckLakeSession(spark, str(tmp_path / "c.sqlite"))
    dl.create_table("main.t", spark.range(3).selectExpr("id"))
    old = dl.provider.get_current_snapshot()
    dl.insert_into("main.t", spark.range(4).selectExpr("id"))
    q = f"SELECT count(*) AS n FROM t AT (VERSION => {old})"
    assert dl.sql(q).collect()[0]["n"] == 3
    del to_df_calls[:]
    dl.refresh()
    assert dl.sql(q).collect()[0]["n"] == 3
    assert to_df_calls == []          # a pinned relation never goes stale


def test_dml_subquery_binds_the_relations_it_names(spark, tmp_path):
    """A DML condition reaches Spark as text: the relations its subquery
    names are bound even when no earlier statement named them."""
    db = str(tmp_path / "c.sqlite")
    setup = DuckLakeSession(spark, db)
    setup.create_table("main.dml_target", spark.range(5).selectExpr("id"))
    setup.create_table("main.dml_doomed", spark.range(2).selectExpr("id"))
    dl = DuckLakeSession(spark, db)
    out = dl.sql("DELETE FROM dml_target "
                 "WHERE id IN (SELECT id FROM dml_doomed)")
    assert out.collect()[0][0] == 2
    assert _count(dl, "dml_target") == 3


def test_view_naming_itself_raises_when_queried(spark, tmp_path):
    """As in DuckDB, a view replaced by a body that names itself is
    accepted, and a query over it fails with a typed error rather than
    recursing; the rest of the catalog keeps answering."""
    dl = DuckLakeSession(spark, str(tmp_path / "c.sqlite"))
    dl.create_table("main.t", spark.range(2).selectExpr("id"))
    dl.sql("CREATE VIEW v AS SELECT id FROM t")
    assert _count(dl, "v") == 2
    dl.sql("CREATE OR REPLACE VIEW v AS SELECT * FROM v")
    with pytest.raises(InvalidConfig, match="refers to itself"):
        dl.sql("SELECT * FROM v")
    assert _count(dl, "t") == 2


def test_catalog_temp_views_are_created_in_one_function():
    """Every temp view of a catalog relation goes through one function,
    so the owner record sees each one."""
    src = Path(catalog_mod.__file__).read_text()
    owners = {fn.name for fn in ast.walk(ast.parse(src))
              if isinstance(fn, ast.FunctionDef)
              for node in ast.walk(fn)
              if isinstance(node, ast.Attribute)
              and node.attr == "createOrReplaceTempView"}
    assert owners == {"_publish"}
    assert src.count("createOrReplaceTempView(") == 1


def _metadata_views(spark):
    temp = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    owned = set(catalog_mod._VIEW_OWNERS.get(spark, {}))
    return {n for n in temp | owned if n.startswith("__ducklake_")}


def test_metadata_views_are_dropped_after_their_statement(spark, tmp_path):
    """A ``ducklake_<fn>(…)`` call's temp view lives only as long as the
    statement that named it; the frame it returned still runs. A command
    Spark keeps as text (CREATE TEMP VIEW) keeps its metadata view."""
    before = _metadata_views(spark)
    dl = DuckLakeSession(spark, str(tmp_path / "c.sqlite"))
    dl.create_table("main.t", spark.range(0).selectExpr("id"))
    snaps = [dl.provider.get_current_snapshot()]
    for i in range(20):
        dl.sql(f"INSERT INTO t VALUES ({i})")
        snaps.append(dl.provider.get_current_snapshot())
    frames = [dl.sql("SELECT id, change_type FROM ducklake_table_changes("
                     f"'main.t', {a}, {b})")
              for a, b in zip(snaps, snaps[1:])]
    assert _metadata_views(spark) == before
    for i, df in enumerate(frames):
        assert [tuple(r) for r in df.collect()] == [(i, "insert")]
    dl.sql("CREATE TEMP VIEW feed AS SELECT id FROM "
           f"ducklake_table_changes('main.t', {snaps[0]}, {snaps[-1]})")
    try:
        assert spark.sql("SELECT count(*) FROM feed").collect()[0][0] == 20
    finally:
        spark.catalog.dropTempView("feed")


def test_columns_query_leaves_no_binding_behind(spark, tmp_path,
                                                to_df_calls):
    """``information_schema.columns`` plans every persisted view to read
    its columns, without binding the views or their tables into the
    session; the next ``refresh()`` has nothing to rebuild."""
    db = str(tmp_path / "c.sqlite")
    setup = DuckLakeSession(spark, db)
    for i in range(5):
        setup.create_table(f"main.t{i}", spark.range(2).selectExpr("id"))
        setup.sql(f"CREATE VIEW v{i} AS SELECT id AS k{i} FROM t{i}")
    dl = DuckLakeSession(spark, db)
    views, before = dict(dl._views), _metadata_views(spark)
    rows = dl.sql("SELECT table_name, column_name "
                  "FROM information_schema.columns "
                  "WHERE table_name IN ('t0', 'v3')").collect()
    assert sorted(map(tuple, rows)) == [("t0", "id"), ("v3", "k3")]
    assert dl._views == views
    assert _metadata_views(spark) == before
    del to_df_calls[:]
    dl.refresh()
    assert to_df_calls == []
    assert _count(dl, "v3") == 2


def _ids(dl, name):
    return sorted(r[0] for r in dl.sql(f"SELECT id FROM {name}").collect())


def _catalog_statements(dl):
    """(query, params) of every catalog statement ``dl``'s provider runs
    from here on."""
    log = []
    fetch = dl.provider._fetchall

    def spy(query, params=()):
        log.append((query, tuple(params)))
        return fetch(query, params)

    dl.provider._fetchall = spy
    return log


def test_refresh_at_an_unchanged_pin_builds_and_publishes_nothing(
        spark, tmp_path, to_df_calls, monkeypatch):
    dl = DuckLakeSession(spark, str(tmp_path / "c.sqlite"))
    for name in ("a", "b"):
        dl.create_table(f"main.{name}", spark.range(2).selectExpr("id"))
    dl.sql("CREATE VIEW v AS SELECT id FROM a")
    assert _count(dl, "a") == 2 and _count(dl, "main.b") == 2
    assert _count(dl, "v") == 2
    published = []
    real = DataFrame.createOrReplaceTempView
    monkeypatch.setattr(
        DataFrame, "createOrReplaceTempView",
        lambda df, name: published.append(name) or real(df, name))
    statements = _catalog_statements(dl)
    del to_df_calls[:]
    dl.refresh()
    assert to_df_calls == [] and published == []
    assert len(statements) <= 2
    assert _count(dl, "a") == 2 and _count(dl, "v") == 2


def test_refresh_after_a_commit_reads_nothing_of_untouched_tables(
        spark, tmp_path, to_df_calls):
    db = str(tmp_path / "c.sqlite")
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.a", spark.range(2).selectExpr("id"))
    dl.create_table("main.b", spark.range(4).selectExpr("id"))
    b_id = dl.table_handle("main.b").meta.table_id
    assert _count(dl, "a") == 2 and _count(dl, "b") == 4
    other = DuckLakeSession(spark, db)
    for _ in range(2):
        other.insert_into("main.a", spark.range(10, 13).selectExpr("id"))
    statements = _catalog_statements(dl)
    del to_df_calls[:]
    dl.refresh()
    assert to_df_calls == ["a"]
    assert not [q for q, params in statements
                if "table_id" in q and b_id in params]
    assert _ids(dl, "a") == [0, 1, 10, 10, 11, 11, 12, 12]
    assert _count(dl, "b") == 4


def test_refresh_rebuilds_the_views_over_what_a_commit_touched(
        spark, tmp_path):
    db = str(tmp_path / "c.sqlite")
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.a", spark.range(2).selectExpr("id"))
    dl.create_table("main.b", spark.range(4).selectExpr("id"))
    dl.sql("CREATE VIEW va AS SELECT id FROM a")
    dl.sql("CREATE VIEW vb AS SELECT id FROM b WHERE id > 0")
    assert _count(dl, "va") == 2 and _count(dl, "vb") == 3
    before = dict(dl._frames)
    DuckLakeSession(spark, db).insert_into(
        "main.a", spark.range(5, 6).selectExpr("id"))
    dl.refresh()
    assert dl._frames[("main.vb", None)] is before[("main.vb", None)]
    assert dl._frames[("main.b", None)] is before[("main.b", None)]
    assert dl._frames[("main.va", None)] is not before[("main.va", None)]
    assert _ids(dl, "va") == [0, 1, 5] and _count(dl, "vb") == 3


def test_snapshot_without_change_labels_rebuilds_every_binding(
        spark, tmp_path, to_df_calls):
    db = str(tmp_path / "c.sqlite")
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.a", spark.range(2).selectExpr("id"))
    dl.create_table("main.b", spark.range(4).selectExpr("id"))
    assert _count(dl, "a") == 2 and _count(dl, "b") == 4
    con = sqlite3.connect(db)
    con.execute("INSERT INTO ducklake_snapshot (snapshot_id, snapshot_time) "
                "VALUES (?, CURRENT_TIMESTAMP)",
                (dl.provider.get_current_snapshot() + 1,))
    con.commit()
    con.close()
    del to_df_calls[:]
    dl.refresh()
    assert sorted(to_df_calls) == ["a", "b"]


def test_rolled_back_snapshot_id_is_never_trusted(spark, tmp_path):
    """A reads B's uncommitted-to-the-user INSERT; B rolls back and C
    commits. The catalog never hands C the id B's snapshot had, and A's
    refresh reads C's row and not B's."""
    db = str(tmp_path / "c.sqlite")
    a = DuckLakeSession(spark, db)
    a.create_table("main.t", spark.range(1, 2).selectExpr("id"))
    b = DuckLakeSession(spark, db)
    b.sql("BEGIN")
    b.sql("INSERT INTO t VALUES (2)")
    rolled_back = b.provider.get_current_snapshot()
    a.refresh()
    assert _ids(a, "t") == [1, 2]
    b.sql("ROLLBACK")
    c = DuckLakeSession(spark, db)
    c.sql("INSERT INTO t VALUES (3)")
    assert c.provider.get_current_snapshot() > rolled_back
    a.refresh()
    assert _ids(a, "t") == [1, 3]


def test_refresh_releases_renamed_and_dropped_tables(spark, tmp_path):
    db = str(tmp_path / "c.sqlite")
    dl = DuckLakeSession(spark, db)
    for name, n in (("ren", 2), ("gone2", 4), ("kept", 3)):
        dl.create_table(f"main.{name}", spark.range(n).selectExpr("id"))
    assert _count(dl, "ren") == 2 and _count(dl, "gone2") == 4
    assert _count(dl, "main.gone2") == 4 and _count(dl, "kept") == 3
    other = DuckLakeSession(spark, db)
    other.rename_table("main.ren", "ren2")
    other.drop_table("main.gone2")
    dl.refresh()
    for name in ("ren", "gone2", "main__gone2"):
        assert not spark.catalog.tableExists(name)
    assert _count(dl, "ren2") == 2 and _count(dl, "kept") == 3
    with pytest.raises(Exception, match="ren"):
        dl.sql("SELECT * FROM ren").collect()


def test_new_data_path_rebuilds_every_binding(spark, tmp_path, to_df_calls):
    db = str(tmp_path / "c.sqlite")
    dl = DuckLakeSession(spark, db)
    dl.create_table("main.a", spark.range(2).selectExpr("id"))
    dl.create_table("main.b", spark.range(4).selectExpr("id"))
    assert _count(dl, "a") == 2 and _count(dl, "b") == 4
    moved = str(tmp_path / "moved")
    shutil.copytree(dl.provider.get_data_path(), moved)
    DuckLakeSession(spark, db).set_option("data_path", moved)
    del to_df_calls[:]
    dl.refresh()
    assert sorted(to_df_calls) == ["a", "b"]
    assert all(f.data_uri.find("moved") >= 0
               for f in dl.table_handle("main.a").files)
    assert _count(dl, "a") == 2 and _count(dl, "b") == 4


def test_refresh_takes_back_a_view_name_another_session_repointed(
        spark, tmp_path):
    a = DuckLakeSession(spark, str(tmp_path / "a.sqlite"))
    a.create_table("main.t", spark.range(2).selectExpr("id"))
    b = DuckLakeSession(spark, str(tmp_path / "b.sqlite"))
    b.create_table("main.t", spark.range(7).selectExpr("id"))
    assert _count(a, "t") == 2
    assert _count(b, "t") == 7
    a.refresh()
    assert spark.sql("SELECT count(*) FROM t").collect()[0][0] == 2


def test_refresh_after_drop_schema_forgets_its_macros(spark, tmp_path):
    """DROP SCHEMA … CASCADE labels its tables and schema, not the
    macros it ends; the next statement must not expand them."""
    dl = DuckLakeSession(spark, str(tmp_path / "c.sqlite"))
    dl.sql("CREATE SCHEMA ms")
    dl.sql("CREATE MACRO ms.twice(a) AS a * 2")
    assert dl.sql("SELECT ms.twice(7) AS v").collect()[0][0] == 14
    dl.sql("DROP SCHEMA ms CASCADE")
    with pytest.raises(Exception, match="ms"):
        dl.sql("SELECT ms.twice(7) AS v").collect()
