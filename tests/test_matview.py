"""Materialized views (operators/matview.py): create / incremental
refresh (CDC-delta MERGE) / full-recompute fallback / status surface /
SQL forms. Every refresh result is checked against a full recompute of
the definition — the oracle the incremental path must be
indistinguishable from.
"""

from __future__ import annotations

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.errors import InvalidConfig
from datafusion_ducklake_spark.metadata.writer import CatalogWriter
from datafusion_ducklake_spark.operators.matview import (
    parse_incremental_spec,
)

MV_SQL = ("SELECT tag, SUM(v) AS total, COUNT(*) AS n, "
          "MIN(v) AS lo, MAX(v) AS hi FROM main.t "
          "WHERE id >= 0 GROUP BY tag")


@pytest.fixture()
def dl(spark, tmp_path):
    db = str(tmp_path / "catalog.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    session = DuckLakeSession(spark, db)
    df = spark.createDataFrame(
        [(i, chr(ord("a") + i % 5), float(i)) for i in range(20)],
        "id INT, tag STRING, v DOUBLE")
    session.create_table("main.t", df)
    return session


def _rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: tuple((v is None, v) for v in t))


def _recompute(dl):
    return _rows(dl.sql(MV_SQL))


class TestParse:
    def test_recognized(self):
        spec = parse_incremental_spec(MV_SQL)
        assert spec is not None
        assert spec["group_cols"] == ["tag"]
        assert spec["aggs"] == {"total": "SUM", "n": "COUNT",
                                "lo": "MIN", "hi": "MAX"}
        assert spec["where"] == "id >= 0"

    def test_aliased_group_expr(self):
        spec = parse_incremental_spec(
            "SELECT id % 3 AS bucket, SUM(v) AS total "
            "FROM t GROUP BY id % 3")
        assert spec is not None and spec["group_cols"] == ["bucket"]

    def test_rejections_fall_to_full(self):
        for sql in (
                "SELECT tag, AVG(v) AS a FROM t GROUP BY tag",
                "SELECT tag, COUNT(DISTINCT id) AS n FROM t GROUP BY tag",
                "SELECT t.tag, SUM(v) AS s FROM t JOIN u ON t.id = u.id "
                "GROUP BY t.tag",
                "SELECT SUM(v) AS s FROM t",                # no GROUP BY
                "SELECT tag, SUM(v) AS s FROM t GROUP BY tag HAVING s > 1",
                "SELECT tag FROM t GROUP BY tag",           # no aggregate
                "SELECT tag, SUM(v) FROM t GROUP BY tag",   # missing alias
        ):
            assert parse_incremental_spec(sql) is None, sql


class TestLifecycle:
    def test_create_matches_definition(self, dl):
        dl.create_materialized_view("main.mv", MV_SQL)
        assert _rows(dl.table("main.mv")) == _recompute(dl)
        st = dl.matview_status("main.mv").collect()
        assert len(st) == 1 and st[0]["incremental"] is True \
            and st[0]["current"] is True

    def test_incremental_refresh_after_append(self, dl, spark):
        dl.create_materialized_view("main.mv", MV_SQL)
        dl.insert_into("main.t", spark.createDataFrame(
            [(100, "a", 100.0), (101, "z", 7.0)],   # existing + NEW group
            "id INT, tag STRING, v DOUBLE"))
        assert dl.matview_status("main.mv").collect()[0]["current"] is False
        out = dl.refresh_materialized_view("main.mv")
        assert out["mode"] == "incremental"
        assert _rows(dl.table("main.mv")) == _recompute(dl)
        assert dl.matview_status("main.mv").collect()[0]["current"] is True

    def test_noop_when_source_unchanged(self, dl):
        dl.create_materialized_view("main.mv", MV_SQL)
        assert dl.refresh_materialized_view("main.mv")["mode"] == "noop"

    def test_full_refresh_after_delete(self, dl):
        dl.create_materialized_view("main.mv", MV_SQL)
        dl.delete_from("main.t", "id % 4 = 0")
        out = dl.refresh_materialized_view("main.mv")
        assert out["mode"] == "full"
        assert _rows(dl.table("main.mv")) == _recompute(dl)

    def test_full_refresh_after_update(self, dl):
        dl.create_materialized_view("main.mv", MV_SQL)
        dl.update_where("main.t", {"v": "v * 10"}, "tag = 'b'")
        out = dl.refresh_materialized_view("main.mv")
        assert out["mode"] == "full"   # update = delete+insert in CDC
        assert _rows(dl.table("main.mv")) == _recompute(dl)

    def test_where_filtered_delta(self, dl, spark):
        dl.create_materialized_view(
            "main.mv", "SELECT tag, SUM(v) AS total FROM main.t "
                       "WHERE id < 50 GROUP BY tag")
        dl.insert_into("main.t", spark.createDataFrame(
            [(30, "a", 5.0), (99, "a", 1000.0)],    # 99 filtered out
            "id INT, tag STRING, v DOUBLE"))
        out = dl.refresh_materialized_view("main.mv")
        assert out["mode"] == "incremental"
        assert _rows(dl.table("main.mv")) == _rows(dl.sql(
            "SELECT tag, SUM(v) AS total FROM main.t "
            "WHERE id < 50 GROUP BY tag"))

    @pytest.mark.slow
    def test_null_agg_values_in_delta(self, dl, spark):
        # an all-NULL delta SUM must leave the group's total UNCHANGED
        # (SUM ignores NULLs) — the NULL-identity combine, not tgt+NULL
        dl.create_materialized_view("main.mv", MV_SQL)
        dl.insert_into("main.t", spark.createDataFrame(
            [(400, "a", None), (401, "a", None),   # existing group
             (402, "y", None)],                    # NEW all-NULL group
            "id INT, tag STRING, v DOUBLE"))
        out = dl.refresh_materialized_view("main.mv")
        assert out["mode"] == "incremental"
        assert _rows(dl.table("main.mv")) == _recompute(dl)
        # ...and the all-NULL group later gaining a value takes it
        dl.insert_into("main.t", spark.createDataFrame(
            [(403, "y", 9.0)], "id INT, tag STRING, v DOUBLE"))
        out = dl.refresh_materialized_view("main.mv")
        assert out["mode"] == "incremental"
        assert _rows(dl.table("main.mv")) == _recompute(dl)

    def test_null_group_key_falls_to_full(self, dl, spark):
        dl.create_materialized_view("main.mv", MV_SQL)
        dl.insert_into("main.t", spark.createDataFrame(
            [(200, None, 4.0)], "id INT, tag STRING, v DOUBLE"))
        out = dl.refresh_materialized_view("main.mv")
        assert out["mode"] == "full"
        assert _rows(dl.table("main.mv")) == _recompute(dl)

    def test_join_definition_full_path(self, dl, spark):
        dl.create_table("main.dim", spark.createDataFrame(
            [("a", "grp1"), ("b", "grp1"), ("c", "grp2"),
             ("d", "grp2"), ("e", "grp3")], "tag STRING, grp STRING"))
        sql = ("SELECT grp, SUM(v) AS total FROM main.t AS f "
               "JOIN main.dim AS d ON f.tag = d.tag GROUP BY grp")
        dl.create_materialized_view("main.mvj", sql)
        assert dl.matview_status("main.mvj").collect()[0]["incremental"] \
            is False
        dl.insert_into("main.t", spark.createDataFrame(
            [(300, "c", 50.0)], "id INT, tag STRING, v DOUBLE"))
        out = dl.refresh_materialized_view("main.mvj")
        assert out["mode"] == "full"
        assert _rows(dl.table("main.mvj")) == _rows(dl.sql(sql))

    @pytest.mark.slow
    def test_consecutive_incremental_refreshes(self, dl, spark):
        dl.create_materialized_view("main.mv", MV_SQL)
        for i in (1, 2, 3):
            dl.insert_into("main.t", spark.createDataFrame(
                [(1000 + i, "q", float(i))],
                "id INT, tag STRING, v DOUBLE"))
            out = dl.refresh_materialized_view("main.mv")
            assert out["mode"] == "incremental"
            assert _rows(dl.table("main.mv")) == _recompute(dl)

    def test_source_add_column_keeps_incremental(self, dl, spark):
        # ADD COLUMN on the source must not break the delta: the
        # definition references only the original columns, and the
        # insertions feed simply carries the extra column along
        dl.create_materialized_view("main.mv", MV_SQL)
        dl.sql("ALTER TABLE main.t ADD COLUMN extra INT")
        dl.insert_into("main.t", spark.createDataFrame(
            [(800, "d", 8.0, 1)], "id INT, tag STRING, v DOUBLE, "
                                  "extra INT"))
        out = dl.refresh_materialized_view("main.mv")
        assert out["mode"] == "incremental"
        assert _rows(dl.table("main.mv")) == _recompute(dl)

    def test_source_rename_referenced_column_errors_loudly(self, dl,
                                                           spark):
        # renaming a column the definition references cannot be served:
        # the delta fails to plan, the full fallback fails to plan, and
        # the user gets the analyzer's missing-column error, not silence
        dl.create_materialized_view("main.mv", MV_SQL)
        dl.rename_column("main.t", "v", "val")
        dl.insert_into("main.t", spark.createDataFrame(
            [(900, "e", 9.0)], "id INT, tag STRING, val DOUBLE"))
        with pytest.raises(Exception, match="v|UNRESOLVED"):
            dl.refresh_materialized_view("main.mv")

    def test_clustered_source(self, dl, spark):
        # a catalog-clustered source serves the MV like any other table
        dl.cluster_by("main.t", "id", 4)
        dl.create_materialized_view("main.mv", MV_SQL)
        dl.insert_into("main.t", spark.createDataFrame(
            [(1000, "a", 10.0)], "id INT, tag STRING, v DOUBLE"))
        out = dl.refresh_materialized_view("main.mv")
        assert out["mode"] == "incremental"
        assert _rows(dl.table("main.mv")) == _recompute(dl)

    def test_drop(self, dl):
        dl.create_materialized_view("main.mv", MV_SQL)
        dl.drop_materialized_view("main.mv")
        assert dl.matview_status().count() == 0
        with pytest.raises(Exception):
            dl.table("main.mv")
        dl.drop_materialized_view("main.mv", if_exists=True)  # no raise

    def test_drop_requires_mv(self, dl):
        with pytest.raises(InvalidConfig):
            dl.drop_materialized_view("main.t")

    def test_refresh_requires_mv(self, dl):
        with pytest.raises(InvalidConfig):
            dl.refresh_materialized_view("main.t")

    def test_mv_is_a_plain_table_for_time_travel(self, dl, spark):
        dl.create_materialized_view("main.mv", MV_SQL)
        snap_before = dl.catalog.snapshot_id
        dl.insert_into("main.t", spark.createDataFrame(
            [(500, "a", 500.0)], "id INT, tag STRING, v DOUBLE"))
        dl.refresh_materialized_view("main.mv")
        old = DuckLakeSession(spark, dl.catalog_path,
                              snapshot_id=snap_before)
        assert len(_rows(old.table("main.mv"))) > 0
        assert _rows(old.table("main.mv")) != _rows(dl.table("main.mv"))


class TestSql:
    @pytest.mark.slow
    def test_sql_roundtrip(self, dl, spark):
        dl.sql("CREATE MATERIALIZED VIEW main.mv2 AS " + MV_SQL)
        assert _rows(dl.table("main.mv2")) == _recompute(dl)
        dl.insert_into("main.t", spark.createDataFrame(
            [(600, "b", 6.0)], "id INT, tag STRING, v DOUBLE"))
        out = dl.sql(
            "CALL ducklake_refresh_materialized_view('main.mv2')"
        ).collect()
        assert out[0]["mode"] == "incremental"
        assert _rows(dl.table("main.mv2")) == _recompute(dl)
        info = dl.sql("SELECT * FROM ducklake_matview_info()").collect()
        assert len(info) == 1 and info[0]["table_name"] == "mv2" \
            and info[0]["current"] is True
        dl.sql("DROP MATERIALIZED VIEW main.mv2")
        assert dl.matview_status().count() == 0

    def test_information_schema_materialized_views(self, dl, spark):
        assert dl.sql("SELECT * FROM information_schema"
                      ".materialized_views").count() == 0
        dl.sql("CREATE MATERIALIZED VIEW main.mv4 AS " + MV_SQL)
        rows = dl.sql(
            "SELECT table_name, source_table, incremental, current "
            "FROM information_schema.materialized_views").collect()
        assert [tuple(r) for r in rows] == [("mv4", "main.t", True, True)]
        dl.insert_into("main.t", spark.createDataFrame(
            [(700, "c", 7.0)], "id INT, tag STRING, v DOUBLE"))
        rows = dl.sql("SELECT current FROM information_schema"
                      ".materialized_views").collect()
        assert rows[0]["current"] is False

    def test_if_not_exists_and_if_exists(self, dl):
        dl.sql("CREATE MATERIALIZED VIEW main.mv3 AS " + MV_SQL)
        dl.sql("CREATE MATERIALIZED VIEW IF NOT EXISTS main.mv3 AS "
               + MV_SQL)                      # second create: no-op
        dl.sql("DROP MATERIALIZED VIEW IF EXISTS main.mv3")
        dl.sql("DROP MATERIALIZED VIEW IF EXISTS main.mv3")  # no raise
