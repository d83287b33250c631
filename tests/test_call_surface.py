"""The ``CALL ducklake_<fn>(…)`` surface: every argument shape the
corpus drives reaches its session method with the same arguments, and
the one argument grammar rejects what it cannot read with a typed
``InvalidConfig`` naming the procedure and the argument."""

from __future__ import annotations

import inspect

import pytest

from datafusion_ducklake_spark.catalog import DuckLakeSession
from datafusion_ducklake_spark.errors import InvalidConfig
from datafusion_ducklake_spark.metadata.writer import CatalogWriter

# what each spied method returns, and the frame's first row for it
_RETURNS = {
    "cleanup_old_files": (["a", "b"], (2,)),
    "delete_orphaned_files": (["a", "b", "c"], (3,)),
    "refresh_materialized_view": ({"mode": "full", "snapshot": 4},
                                  ("full", 4)),
    "set_option": (None, (0,)),
    "set_commit_message": (None, (0,)),
}

# (statement, session method, the arguments it must receive); one row
# per distinct argument shape of tests/slt/*.test and tests/*.py
SHAPES = [
    ("CALL ducklake_add_data_files('af', 'd/af_file1.parquet')",
     "add_files", dict(name="af", parquet_paths=["d/af_file1.parquet"])),
    ("CALL ducklake_add_data_files('schema_afs.afs_t', 'd/f.parquet')",
     "add_files", dict(name="schema_afs.afs_t",
                       parquet_paths=["d/f.parquet"])),
    ("CALL ducklake_add_data_files('afcp', 'd/f2.parquet', 'd/f3.parquet', "
     "'d/f4.parquet', 'd/f5.parquet')",
     "add_files", dict(name="afcp", parquet_paths=[
         "d/f2.parquet", "d/f3.parquet", "d/f4.parquet", "d/f5.parquet"])),
    ("CALL ducklake_add_data_files('afl', ['d/a.parquet', 'd/b.parquet'])",
     "add_files", dict(name="afl",
                       parquet_paths=["d/a.parquet", "d/b.parquet"])),
    ("CALL ducklake_add_data_files('aex', 'd/x.parquet', "
     "ignore_extra_columns => true)",
     "add_files", dict(name="aex", parquet_paths=["d/x.parquet"],
                       ignore_extra_columns=True)),
    ("CALL ducklake_add_data_files('afm', 'd/m.parquet', "
     "allow_missing => true)",
     "add_files", dict(name="afm", parquet_paths=["d/m.parquet"],
                       allow_missing=True)),
    ("CALL ducklake_add_data_files('hm', 'd/hm/**/*.parquet', "
     "hive_partitioning => true)",
     "add_files", dict(name="hm", parquet_paths=["d/hm/**/*.parquet"],
                       hive_partitioning=True)),
    ("CALL ducklake_add_data_files('hv', 'd/hv/**/*.parquet', "
     "hive_partitioning => false)",
     "add_files", dict(name="hv", parquet_paths=["d/hv/**/*.parquet"],
                       hive_partitioning=False)),
    ("CALL ducklake_cleanup_old_files()", "cleanup_old_files", {}),
    ("CALL ducklake_cleanup_old_files('')", "cleanup_old_files", {}),
    ("CALL ducklake_cleanup_old_files(cleanup_all => true)",
     "cleanup_old_files", dict(cleanup_all=True)),
    ("CALL ducklake_cleanup_old_files(dry_run => true)",
     "cleanup_old_files", dict(dry_run=True)),
    ("CALL ducklake_cleanup_old_files(dry_run => true, cleanup_all => true)",
     "cleanup_old_files", dict(dry_run=True, cleanup_all=True)),
    ("call DuckLake_Cleanup_Old_Files(DRY_RUN => TRUE)",
     "cleanup_old_files", dict(dry_run=True)),
    ("CALL ducklake_cluster_by('clt', 'k', 4)",
     "cluster_by", dict(name="clt", key="k", buckets=4)),
    ("CALL ducklake_cluster_by('clt', 'grp', 2, replica => true)",
     "cluster_by", dict(name="clt", key="grp", buckets=2, replica=True)),
    ("CALL ducklake_cluster_by('clt', 'k', 2, sort => false, "
     "replica => true)",
     "cluster_by", dict(name="clt", key="k", buckets=2, sort=False,
                        replica=True)),
    ("CALL ducklake_delete_orphaned_files(cleanup_all => true)",
     "delete_orphaned_files", dict(cleanup_all=True)),
    ("CALL ducklake_delete_orphaned_files(dry_run => true)",
     "delete_orphaned_files", dict(dry_run=True)),
    ("CALL ducklake_delete_orphaned_files(dry_run => true, "
     "cleanup_all => true)",
     "delete_orphaned_files", dict(dry_run=True, cleanup_all=True)),
    ("CALL ducklake_drop_clustering_replica('clt', 'grp')",
     "drop_clustering_replica", dict(name="clt", key="grp")),
    ("CALL ducklake_drop_clustering_replica('clt')",
     "drop_clustering_replica", dict(name="clt")),
    ("CALL ducklake_expire_snapshots()", "expire_snapshots", {}),
    ("CALL ducklake_expire_snapshots(3)",
     "expire_snapshots", dict(before=3)),
    ("CALL ducklake_expire_snapshots(dry_run => true)",
     "expire_snapshots", dict(dry_run=True)),
    ("CALL ducklake_expire_snapshots(dry_run => true, versions => [1])",
     "expire_snapshots", dict(dry_run=True, versions=[1])),
    ("CALL ducklake_expire_snapshots(versions => [1, 2], dry_run => true)",
     "expire_snapshots", dict(dry_run=True, versions=[1, 2])),
    ("CALL ducklake_expire_snapshots(versions => [0, 1, 2])",
     "expire_snapshots", dict(versions=[0, 1, 2])),
    ("CALL ducklake_expire_snapshots(older_than => NOW())",
     "expire_snapshots", dict(older_than="now")),
    ("CALL ducklake_expire_snapshots(older_than => "
     "TIMESTAMP '1990-01-01 00:00:00')",
     "expire_snapshots", dict(older_than="1990-01-01 00:00:00")),
    ("CALL ducklake_flush_inlined_data('denc')",
     "flush_inlined_data", dict(name="denc")),
    ("CALL ducklake_flush_inlined_data('main.diotl')",
     "flush_inlined_data", dict(name="main.diotl")),
    ("CALL ducklake_flush_inlined_data()", "flush_inlined_data", {}),
    ("CALL ducklake_flush_inlined_data();", "flush_inlined_data", {}),
    ("CALL ducklake_merge_adjacent_files()", "merge_adjacent_files", {}),
    ("CALL ducklake_merge_adjacent_files('t')",
     "merge_adjacent_files", dict(table_name="t")),
    ("CALL ducklake_merge_adjacent_files('maxf', max_compacted_files => 1)",
     "merge_adjacent_files", dict(table_name="maxf", max_compacted_files=1)),
    ("CALL ducklake_merge_adjacent_files('maxf2', "
     "max_compacted_files => -1)",
     "merge_adjacent_files",
     dict(table_name="maxf2", max_compacted_files=-1)),
    ("CALL ducklake_refresh_materialized_view('main.mv2')",
     "refresh_materialized_view", dict(name="main.mv2")),
    ("CALL ducklake_refresh_replica('clt', 'grp')",
     "refresh_replica", dict(name="clt", key="grp")),
    ("CALL ducklake_refresh_replica('t')", "refresh_replica", dict(name="t")),
    ("CALL ducklake_rewrite_data_files('rw')",
     "rewrite_data_files", dict(name="rw", delete_threshold=0.95)),
    ("CALL ducklake_rewrite_data_files('ce', delete_threshold => 0)",
     "rewrite_data_files", dict(name="ce", delete_threshold=0.0)),
    ("CALL ducklake_rewrite_data_files('test', delete_threshold => 0.5)",
     "rewrite_data_files", dict(name="test", delete_threshold=0.5)),
    ("CALL ducklake_rewrite_data_files(delete_threshold => 0)",
     "rewrite_data_files", dict(name=None, delete_threshold=0.0)),
    ("CALL ducklake_rewrite_data_files('ducklake', 't')",
     "rewrite_data_files", dict(name="t", delete_threshold=0.95)),
    ("CALL ducklake_set_commit_message('Pedro', 'Inserting myself')",
     "set_commit_message",
     dict(author="Pedro", commit_message="Inserting myself")),
    ("CALL ducklake_set_commit_message(NULL, 'Adding two')",
     "set_commit_message", dict(author=None, commit_message="Adding two")),
    ("CALL ducklake_set_option('data_inlining_row_limit', 10)",
     "set_option", dict(key="data_inlining_row_limit", value="10")),
    ("CALL ducklake_set_option('data_inlining_row_limit', NULL)",
     "set_option", dict(key="data_inlining_row_limit", value=None)),
    ("CALL ducklake_set_option('rewrite_delete_threshold', -1)",
     "set_option", dict(key="rewrite_delete_threshold", value="-1")),
    ("CALL ducklake_set_option('rewrite_delete_threshold', 0.1)",
     "set_option", dict(key="rewrite_delete_threshold", value="0.1")),
    ("CALL ducklake_set_option('delete_older_than', '1 week')",
     "set_option", dict(key="delete_older_than", value="1 week")),
    ("CALL ducklake_set_option('delete_older_than', '')",
     "set_option", dict(key="delete_older_than", value="")),
    ("CALL ducklake_set_option('hive_file_pattern', FALSE, "
     "table_name => 'partitioned_tbl')",
     "set_option", dict(key="hive_file_pattern", value="FALSE",
                        table_name="partitioned_tbl")),
    ("CALL ducklake_set_option('auto_compact', false, schema => 'main')",
     "set_option", dict(key="auto_compact", value="false", schema="main")),
    ("CALL ducklake_set_option('auto_compact', true, schema => 's1', "
     "table_name => 'example_2')",
     "set_option", dict(key="auto_compact", value="true", schema="s1",
                        table_name="example_2")),
    ("CALL ducklake_set_option('parquet_compression', 'zstd', "
     "table_name => 'a')",
     "set_option", dict(key="parquet_compression", value="zstd",
                        table_name="a")),
]


@pytest.fixture(scope="module")
def dl(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("call_surface")
    db = str(root / "cat.sqlite")
    w = CatalogWriter.sqlite(db)
    w.initialize_schema(data_path=str(root / "lake"))
    w.close()
    return DuckLakeSession(spark, db)


def _spy(dl, monkeypatch, method):
    """Replace ``method`` on the session with a recorder; returns the
    list of the argument dicts (defaults applied) it was called with."""
    sig = inspect.signature(getattr(dl, method))
    calls = []

    def spy(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        calls.append(dict(bound.arguments))
        return _RETURNS.get(method, (7, None))[0]

    monkeypatch.setattr(dl, method, spy)
    return sig, calls


def _expected(sig, kwargs):
    bound = sig.bind(**kwargs)
    bound.apply_defaults()
    return dict(bound.arguments)


@pytest.mark.parametrize("statement,method,kwargs", SHAPES,
                         ids=[s[0][len("CALL ducklake_"):] for s in SHAPES])
def test_call_reaches_its_method(dl, monkeypatch, statement, method,
                                 kwargs):
    sig, calls = _spy(dl, monkeypatch, method)
    row = tuple(dl.sql(statement).collect()[0])
    assert calls == [_expected(sig, kwargs)]
    assert row == _RETURNS.get(method, (None, (7,)))[1]


# -- defects of the per-procedure grammars --------------------------------

@pytest.mark.parametrize("statement,method,kwargs", [
    ("CALL ducklake_set_option('k', 'it''s')",
     "set_option", dict(key="k", value="it's")),
    ("CALL ducklake_set_commit_message('O''Hara', 'it''s done')",
     "set_commit_message",
     dict(author="O'Hara", commit_message="it's done")),
    ("CALL ducklake_add_data_files('t', 'd/it''s.parquet')",
     "add_files", dict(name="t", parquet_paths=["d/it's.parquet"])),
], ids=["set_option", "set_commit_message", "add_data_files"])
def test_doubled_quote_is_one_quote(dl, monkeypatch, statement, method,
                                    kwargs):
    sig, calls = _spy(dl, monkeypatch, method)
    dl.sql(statement)
    assert calls == [_expected(sig, kwargs)]


def test_named_arguments_in_any_order(dl, monkeypatch):
    sig, calls = _spy(dl, monkeypatch, "cluster_by")
    dl.sql("CALL ducklake_cluster_by('t', 'k', 2, replica => true, "
           "sort => false)")
    assert calls == [_expected(sig, dict(name="t", key="k", buckets=2,
                                         sort=False, replica=True))]


def test_unknown_procedure_is_an_error(dl):
    with pytest.raises(InvalidConfig, match="ducklake_no_such_fn"):
        dl.sql("CALL ducklake_no_such_fn()")


@pytest.mark.parametrize("statement,names", [
    ("CALL ducklake_cleanup_old_files(bogus => true)", "bogus"),
    ("CALL ducklake_cleanup_old_files(dry_run => maybe)", "dry_run"),
], ids=["unknown", "badly_typed"])
def test_bad_named_argument_is_an_error(dl, monkeypatch, statement, names):
    _, calls = _spy(dl, monkeypatch, "cleanup_old_files")
    with pytest.raises(InvalidConfig,
                       match=f"ducklake_cleanup_old_files.*{names}"):
        dl.sql(statement)
    assert calls == []


def test_alias_given_to_expire_snapshots_is_an_error(dl, monkeypatch):
    _, calls = _spy(dl, monkeypatch, "expire_snapshots")
    with pytest.raises(InvalidConfig, match="ducklake_expire_snapshots"):
        dl.sql("CALL ducklake_expire_snapshots('ducklake')")
    assert calls == []


# -- the rest of the grammar's typed errors -------------------------------

@pytest.mark.parametrize("statement,match", [
    ("CALL ducklake_cleanup_old_files(dry_run => true, dry_run => false)",
     "ducklake_cleanup_old_files.*dry_run"),
    ("CALL ducklake_merge_adjacent_files(max_compacted_files => 1, 't')",
     "ducklake_merge_adjacent_files.*positional"),
    ("CALL ducklake_cluster_by('t', 'k')", "ducklake_cluster_by.*buckets"),
    ("CALL ducklake_refresh_materialized_view('a', 'b')",
     "ducklake_refresh_materialized_view"),
    ("CALL ducklake_cluster_by('t', 'k', '4')",
     "ducklake_cluster_by.*buckets"),
    ("CALL ducklake_flush_inlined_data(5)",
     "ducklake_flush_inlined_data.*name"),
    ("CALL ducklake_expire_snapshots(versions => [1, 'x'])",
     "ducklake_expire_snapshots.*versions"),
    ("CALL ducklake_set_option('k', 'v', table_name => NULL)",
     "ducklake_set_option.*table_name"),
    ("CALL ducklake_merge_adjacent_files('t', max_compacted_files => NULL)",
     "max_compacted_files.*must be a non-null integer"),
], ids=["repeated_named", "positional_after_named", "too_few",
        "too_many", "wrong_kind", "number_for_name", "list_element",
        "null_scope", "null_max_compacted_files"])
def test_grammar_errors_are_typed(dl, monkeypatch, statement, match):
    for method in ("cleanup_old_files", "merge_adjacent_files",
                   "cluster_by", "refresh_materialized_view",
                   "flush_inlined_data", "expire_snapshots", "set_option"):
        _spy(dl, monkeypatch, method)
    with pytest.raises(InvalidConfig, match=match):
        dl.sql(statement)

