"""sql()'s relation binder: references are rewritten in identifier
positions only, and a table Spark can't map fails loudly when a
statement names it without poisoning the rest of the catalog
(ADVICE r1)."""

from __future__ import annotations

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.errors import UnsupportedType
from datafusion_ducklake_spark.metadata.provider import SchemaMeta, TableMeta
from tests.ducklake_fixtures import build_users_fixture, write_data_file


class TestRewriteUnit:
    """The binder's one pass over a statement (``_resolve_relations``)
    against a fixed name set, without Spark: which references become
    flat view names and which relations get bound."""

    @pytest.fixture(autouse=True)
    def _session(self, monkeypatch):
        dl = DuckLakeSession.__new__(DuckLakeSession)
        dl.spark = type("NoSpark", (), {})()
        main = SchemaMeta(0, "main", "main/", True)
        sales = SchemaMeta(1, "sales", "sales/", True)
        dl._names = {
            "main.users": (main, TableMeta(1, "users", "users/", True)),
            "sales.orders": (sales, TableMeta(2, "orders", "orders/", True))}
        dl._frames = {(n, None): object() for n in dl._names}
        dl._views, dl._building = {}, []
        self.published: list[str] = []
        monkeypatch.setattr(dl, "_publish",
                            lambda view, df: self.published.append(view))
        self.dl = dl

    def _rw(self, q):
        return self.dl._resolve_relations(q)

    def test_plain_reference(self):
        assert self._rw("SELECT * FROM main.users") == \
            "SELECT * FROM main__users"
        assert self.published == ["main__users"]

    def test_literal_untouched(self):
        q = "SELECT * FROM main.users WHERE note = 'see main.users'"
        assert self._rw(q) == \
            "SELECT * FROM main__users WHERE note = 'see main.users'"

    def test_escaped_quote_literal(self):
        q = "SELECT 'it''s main.users here', id FROM main.users"
        assert self._rw(q) == \
            "SELECT 'it''s main.users here', id FROM main__users"

    def test_backticked_identifier_untouched(self):
        q = "SELECT `main.users` FROM main.users"
        assert self._rw(q) == "SELECT `main.users` FROM main__users"

    def test_longer_dotted_name_not_clobbered(self):
        q = "SELECT * FROM other.main.users"
        assert self._rw(q) == q
        assert self.published == []

    def test_multiple_tables(self):
        q = "SELECT * FROM main.users u JOIN sales.orders o ON u.id = o.uid"
        assert self._rw(q) == ("SELECT * FROM main__users u JOIN "
                               "sales__orders o ON u.id = o.uid")
        assert self.published == ["main__users", "sales__orders"]

    def test_bare_name_binds_without_rewrite(self):
        q = "SELECT users.id FROM USERS WHERE orders = 1"
        assert self._rw(q) == q
        assert self.published == ["users"]


def test_unmappable_table_raises_when_named(spark, tmp_path):
    """One table with a type Spark can't map raises ``UnsupportedType``
    naming it when a statement names it; the rest of the catalog keeps
    answering."""
    fx = build_users_fixture(str(tmp_path))
    cat = fx["cat"]
    s = cat.snapshot()
    tid = cat.table(1, "main", "broken", s)
    cat.column(tid, 90, "x", "geometry_blob_v9", 0, s)  # unmappable type
    name, size = write_data_file(cat.table_dir("main", "broken"),
                                 [(1, "a", "b")])
    cat.data_file(tid, name, size, s, 1)

    dl = DuckLakeSession(spark, cat.db_path)
    assert dl.sql("SELECT COUNT(*) AS n FROM main.users").collect()[0]["n"] == 4
    for ref in ("broken", "main.broken", "broken__rowid"):
        with pytest.raises(UnsupportedType, match="main.broken"):
            dl.sql(f"SELECT * FROM {ref}")
    dl.refresh()
    assert dl.sql("SELECT COUNT(*) AS n FROM users").collect()[0]["n"] == 4
