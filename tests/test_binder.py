"""The relation binder behind ``DuckLakeSession.sql``: a statement binds
only the relations it names, at its own session's pinned snapshot, and
``refresh()`` rebuilds only what the session has bound."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from datafusion_ducklake_spark import catalog as catalog_mod
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
    dl = DuckLakeSession(spark, str(tmp_path / "c.sqlite"))
    for name in ("a", "b", "c"):
        dl.create_table(f"main.{name}", spark.range(2).selectExpr("id"))
    assert _count(dl, "a") == 2 and _count(dl, "main.b") == 2
    del to_df_calls[:]
    dl.refresh()
    assert sorted(to_df_calls) == ["a", "b"]


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
