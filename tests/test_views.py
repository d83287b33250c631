"""Catalog-persisted SQL views (ducklake_view, DuckLake spec entity).

The reference engine has no view support (no ducklake_view handling in
src/); its vendored corpus (tests/sqllogictests/sql/view/) documents the
expected surface, which these tests follow: create / or-replace / drop,
views over views, MVCC time travel to pre-drop and pre-replace bodies.
"""

from __future__ import annotations

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.errors import InvalidConfig
from datafusion_ducklake_spark.metadata.writer import CatalogWriter


@pytest.fixture()
def dl(spark, tmp_path):
    db = str(tmp_path / "catalog.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    session = DuckLakeSession(spark, db)
    df = spark.createDataFrame(
        [(i, chr(ord("a") + i % 3), float(i)) for i in range(12)],
        "id INT, tag STRING, v DOUBLE")
    session.create_table("main.base", df)
    return session


def test_create_and_query_view(dl):
    dl.sql("CREATE VIEW evens AS SELECT id, v FROM main.base WHERE id % 2 = 0")
    got = sorted(r["id"] for r in dl.sql("SELECT id FROM evens").collect())
    assert got == [0, 2, 4, 6, 8, 10]
    # dotted reference resolves too
    got2 = dl.sql("SELECT count(*) AS n FROM main.evens").collect()[0]["n"]
    assert got2 == 6


def test_view_persists_across_sessions(dl, spark):
    dl.create_view("main.tagged", "SELECT tag, count(*) AS n FROM main.base GROUP BY tag")
    fresh = DuckLakeSession(spark, dl.catalog_path)
    rows = {r["tag"]: r["n"] for r in
            fresh.sql("SELECT * FROM tagged").collect()}
    assert rows == {"a": 4, "b": 4, "c": 4}


def test_view_over_view(dl):
    dl.sql("CREATE VIEW v1 AS SELECT id, v FROM main.base WHERE id < 6")
    dl.sql("CREATE VIEW v2 AS SELECT sum(v) AS total FROM main.v1")
    assert dl.sql("SELECT total FROM v2").collect()[0]["total"] == 15.0


def test_view_sees_current_table_state(dl):
    dl.sql("CREATE VIEW live AS SELECT count(*) AS n FROM main.base")
    assert dl.sql("SELECT n FROM live").collect()[0]["n"] == 12
    dl.sql("DELETE FROM main.base WHERE id >= 6")
    assert dl.sql("SELECT n FROM live").collect()[0]["n"] == 6


def test_create_without_replace_conflicts(dl):
    dl.sql("CREATE VIEW dup AS SELECT id FROM main.base")
    with pytest.raises(InvalidConfig):
        dl.sql("CREATE VIEW dup AS SELECT tag FROM main.base")
    dl.sql("CREATE OR REPLACE VIEW dup AS SELECT tag FROM main.base")
    assert dl.sql("SELECT * FROM dup").columns == ["tag"]


def test_invalid_body_fails_at_create(dl):
    with pytest.raises(Exception):
        dl.sql("CREATE VIEW broken AS SELECT nope FROM main.base")
    # nothing persisted
    fresh = DuckLakeSession(dl.spark, dl.catalog_path)
    views = fresh.provider.list_views(
        fresh.catalog.schema("main").meta.schema_id,
        fresh.catalog.snapshot_id)
    assert [v.view_name for v in views] == []


def test_drop_view(dl):
    dl.sql("CREATE VIEW goner AS SELECT id FROM main.base")
    dl.sql("DROP VIEW goner")
    with pytest.raises(Exception):
        dl.sql("SELECT * FROM main.goner").collect()
    with pytest.raises(InvalidConfig):
        dl.sql("DROP VIEW goner")
    dl.sql("DROP VIEW IF EXISTS goner")   # no raise


def test_time_travel_sees_pre_drop_and_pre_replace(dl, spark):
    dl.sql("CREATE VIEW tt AS SELECT id FROM main.base WHERE id < 3")
    snap_v1 = dl.provider.get_current_snapshot()
    dl.sql("CREATE OR REPLACE VIEW tt AS SELECT id FROM main.base WHERE id >= 9")
    snap_v2 = dl.provider.get_current_snapshot()
    dl.sql("DROP VIEW tt")

    pinned1 = DuckLakeSession(spark, dl.catalog_path, snapshot_id=snap_v1)
    assert sorted(r["id"] for r in
                  pinned1.sql("SELECT id FROM tt").collect()) == [0, 1, 2]
    pinned2 = DuckLakeSession(spark, dl.catalog_path, snapshot_id=snap_v2)
    assert sorted(r["id"] for r in
                  pinned2.sql("SELECT id FROM tt").collect()) == [9, 10, 11]
    # current session: dropped
    fresh = DuckLakeSession(spark, dl.catalog_path)
    for ref in ("tt", "main.tt"):
        with pytest.raises(Exception, match="tt"):
            fresh.sql(f"SELECT id FROM {ref}").collect()


def test_old_catalog_without_view_table_reads_fine(dl, spark):
    """Catalogs written before view support lack ducklake_view entirely:
    the provider must treat that as zero views, not an error."""
    import sqlite3
    con = sqlite3.connect(dl.catalog_path)
    con.execute("DROP TABLE IF EXISTS ducklake_view")
    con.commit()
    con.close()
    fresh = DuckLakeSession(spark, dl.catalog_path)
    assert fresh.sql("SELECT count(*) AS n FROM main.base") \
        .collect()[0]["n"] == 12
