"""Materialized views with incremental (CDC-delta) refresh.

Beyond-parity surface: the reference engine has plain views only
(``src/metadata_provider.rs`` view entities — no materialization). A
lakehouse pipeline at 100 TB re-reads the same aggregates constantly;
a materialized view turns that into one table scan at create time
plus, on refresh, work bounded by the CHANGE SET instead of the source
table:

- The MV is backed by an ordinary DuckLake TABLE (CTAS from the
  definition), so every existing surface — time travel, CDC,
  clustering, any foreign DuckLake reader — works on it unchanged.
- The definition and refresh bookkeeping live in a table-scoped
  catalog option (``materialized_view``), the same extension seam the
  clustering replicas use: catalog-persisted, survives reattach, and a
  reader that does not understand it simply sees a table.
- ``refresh``: when the source's change window since the last refresh
  is INSERT-ONLY (checked against the CDC deletion surface itself, so
  compaction/maintenance rewrites that are CDC-silent are
  refresh-silent too) and the definition is a recognized distributive
  aggregate (SUM / COUNT / MIN / MAX over one table with GROUP BY),
  the delta is computed by running the SAME definition over
  ``table_insertions(last, current]`` and combined into the backing
  table with one MERGE (SUM/COUNT add, MIN/MAX least/greatest) — cost
  O(|delta| + |touched groups|), never O(|source|). Every other shape
  — deletes/updates in the window, joins, DISTINCT, AVG, NULL group
  keys in the delta (a null-unsafe merge join would duplicate that
  group), a delta that fails to re-plan — falls back to a FULL
  recompute (insert-overwrite of the backing table), correct for any
  definition the engine can plan.

Scale: the incremental path's merge joins the per-group delta against
the backing table on the group keys — both sides digest-sized (one
row per TOUCHED group on the delta side). The full path costs exactly
one re-run of the definition, the same as CREATE. Nothing here
collects data rows on the driver; the only driver-side actions are
bounded ``limit(1)`` probes (deletion feed, delta NULL-key check).
"""
from __future__ import annotations

import json
import re
from typing import Optional

from ..errors import InvalidConfig

MV_OPTION = "materialized_view"

# shapes the incremental combiner cannot merge — any of these tokens in
# the definition routes every refresh down the always-correct full path
_NON_INCREMENTAL = re.compile(
    r"\b(JOIN|UNION|INTERSECT|EXCEPT|HAVING|DISTINCT|OVER|LIMIT|AVG)\b"
    r"|\bORDER\s+BY\b", re.I)

_GRAMMAR = re.compile(
    r"^\s*SELECT\s+(?P<select>.+?)\s+FROM\s+(?P<table>[A-Za-z_][\w.]*)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"\s+GROUP\s+BY\s+(?P<group>.+?)\s*;?\s*$",
    re.I | re.S)

_AGG_ITEM = re.compile(
    r"^(?P<fn>SUM|COUNT|MIN|MAX)\s*\((?P<arg>.+)\)\s+AS\s+(?P<alias>\w+)$",
    re.I | re.S)

_ALIAS_ITEM = re.compile(r"^(?P<expr>.+?)\s+AS\s+(?P<alias>\w+)$",
                         re.I | re.S)

# combine rules treat NULL as the aggregate's identity: a delta SUM
# over a group whose inserted rows are all NULL is NULL, and the
# recompute semantics (SUM ignores NULLs) say the total is UNCHANGED —
# naive tgt+src would poison it to NULL; symmetrically a tgt that is
# NULL (all-NULL group from the start) takes the delta's value.
# least/greatest already skip NULLs (null only when ALL args are null),
# which is exactly MIN/MAX's insert-only delta semantics.
_ADD_NULL_ID = ("CASE WHEN src.{t} IS NULL THEN tgt.{t} "
                "WHEN tgt.{t} IS NULL THEN src.{t} "
                "ELSE tgt.{t} + src.{t} END")
_COMBINE = {"SUM": _ADD_NULL_ID, "COUNT": _ADD_NULL_ID,
            "MIN": "least(tgt.{t}, src.{t})",
            "MAX": "greatest(tgt.{t}, src.{t})"}


def _split_top_level(text: str) -> list[str]:
    """Split a select list on commas outside parentheses and quotes."""
    items, depth, start, quote = [], 0, 0, None
    for i, ch in enumerate(text):
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(text[start:i].strip())
            start = i + 1
    items.append(text[start:].strip())
    return [i for i in items if i]


def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s.strip()).lower()


def parse_incremental_spec(sql_text: str) -> Optional[dict]:
    """Recognize the incrementally-maintainable grammar: one source
    table, optional WHERE, GROUP BY, and a select list of group items
    (plain columns, or aliased expressions echoed in GROUP BY by text
    or alias) plus SUM/COUNT/MIN/MAX aggregates with mandatory aliases.
    Returns the spec dict, or None when the definition must refresh by
    full recompute (still a valid MV — just not delta-mergeable)."""
    if _NON_INCREMENTAL.search(sql_text):
        return None
    if len(re.findall(r"\bSELECT\b", sql_text, re.I)) != 1 \
            or len(re.findall(r"\bFROM\b", sql_text, re.I)) != 1:
        return None
    m = _GRAMMAR.match(sql_text)
    if not m:
        return None
    group_terms = [_norm(g) for g in _split_top_level(m.group("group"))]
    group_cols, aggs = [], {}
    for item in _split_top_level(m.group("select")):
        am = _AGG_ITEM.match(item)
        if am:
            if re.match(r"\s*DISTINCT\b", am.group("arg"), re.I):
                return None
            aggs[am.group("alias")] = am.group("fn").upper()
            continue
        alm = _ALIAS_ITEM.match(item)
        if alm and (_norm(alm.group("expr")) in group_terms
                    or _norm(alm.group("alias")) in group_terms):
            group_cols.append(alm.group("alias"))
            continue
        if re.fullmatch(r"[\w.]+", item) and _norm(item) in group_terms:
            group_cols.append(item.split(".")[-1])
            continue
        return None                       # unrecognized select item
    if not aggs or not group_cols or len(group_terms) != len(group_cols):
        return None
    return {"source": m.group("table"),
            "select": m.group("select").strip(),
            "where": (m.group("where") or "").strip() or None,
            "group_by": m.group("group").strip(),
            "group_cols": group_cols, "aggs": aggs}


def load_spec(session, name: str) -> dict:
    handle = session.table_handle(name)
    raw = session.provider.get_scoped_option(
        MV_OPTION, None, handle.meta.table_id)
    if not raw:
        raise InvalidConfig(
            f"{name!r} is not a materialized view (no {MV_OPTION} "
            f"option on the table)")
    return json.loads(raw)


def _save_spec(session, name: str, spec: dict) -> None:
    session.set_option(MV_OPTION, json.dumps(spec), table_name=name)


def _qualify(name: str) -> str:
    return name if "." in name else f"main.{name}"


def create_materialized_view(session, name: str, sql_text: str,
                             if_not_exists: bool = False) -> int:
    """CREATE MATERIALIZED VIEW name AS <select>: CTAS the backing
    table from the definition (planned through the session's catalog
    views, so it reads the session's pinned snapshot — that snapshot is
    recorded as covered) and persist the definition. SQL:
    ``CREATE MATERIALIZED VIEW [IF NOT EXISTS] name AS SELECT ...``."""
    if if_not_exists:
        try:
            load_spec(session, name)
            return 0
        except Exception:
            pass
    inc = parse_incremental_spec(sql_text)
    covered = session.catalog.snapshot_id
    df = session.sql(sql_text)
    if inc is not None:
        try:
            session.table_handle(_qualify(inc["source"]))
        except Exception:
            inc = None           # source is a view / unknown → full path
        else:
            # defensive: the parsed output names must be exactly the
            # planned output, or a later merge would mis-map columns
            if set(inc["group_cols"]) | set(inc["aggs"]) \
                    != set(df.columns):
                inc = None
    session.create_table(name, df)
    _save_spec(session, name, {"sql": sql_text, "last_snapshot": covered,
                               "incremental": inc})
    return 1


def refresh_materialized_view(session, name: str) -> dict:
    """Bring the MV up to the source's current snapshot. Returns
    ``{"mode": "noop"|"incremental"|"full", "snapshot": n}``. SQL:
    ``CALL ducklake_refresh_materialized_view('name')``."""
    spec = load_spec(session, name)
    session.refresh()
    current = session.catalog.snapshot_id
    last = spec["last_snapshot"]
    inc = spec.get("incremental")
    if inc is not None:
        source = _qualify(inc["source"])
        try:
            session.table_handle(source)
        except Exception:
            raise InvalidConfig(
                f"materialized view {name!r}: source table {source!r} "
                f"no longer exists — DROP the view or recreate it")
        # two bounded limit(1) probes over the CDC surface decide the
        # path; CDC-silent maintenance is therefore refresh-silent too
        if not _window_has_deletions(session, source, last, current):
            if not _window_has_insertions(session, source, last,
                                          current):
                spec["last_snapshot"] = current
                _save_spec(session, name, spec)
                return {"mode": "noop", "snapshot": current}
            out = _incremental_merge(session, name, spec, last, current)
            if out is not None:
                return out
    # full recompute — always correct
    df = session.sql(spec["sql"])
    session.insert_into(name, df, overwrite=True)
    session.refresh()
    spec["last_snapshot"] = session.catalog.snapshot_id
    _save_spec(session, name, spec)
    return {"mode": "full", "snapshot": spec["last_snapshot"]}


def _window_has_deletions(session, source, last, current) -> bool:
    """True when (last, current] removed any source row — the exact CDC
    deletion surface, so maintenance rewrites that are CDC-silent are
    refresh-silent too. ``limit(1)`` bounds the probe."""
    return bool(session.table_deletions(source, last, current)
                .limit(1).take(1))


def _window_has_insertions(session, source, last, current) -> bool:
    return bool(session.table_insertions(source, last, current)
                .limit(1).take(1))


def _incremental_merge(session, name: str, spec: dict,
                       last: int, current: int) -> Optional[dict]:
    inc = spec["incremental"]
    source = _qualify(inc["source"])
    ins = session.table_insertions(source, last, current)
    alias = inc["source"].split(".")[-1]
    view = f"__mv_delta_{abs(hash(name)) % 10**8:08d}"
    ins.createOrReplaceTempView(view)
    delta_sql = f"SELECT {inc['select']} FROM {view} AS {alias}"
    if inc["where"]:
        delta_sql += f" WHERE {inc['where']}"
    delta_sql += f" GROUP BY {inc['group_by']}"
    try:
        delta = session.spark.sql(delta_sql)
    except Exception:
        return None          # e.g. schema-qualified refs → full path
    delta = delta.persist()
    try:
        if not delta.take(1):
            spec["last_snapshot"] = current
            _save_spec(session, name, spec)
            return {"mode": "noop", "snapshot": current}
        keys = inc["group_cols"]
        if delta.where(" OR ".join(
                f"`{k}` IS NULL" for k in keys)).take(1):
            return None      # null-unsafe merge join → full path
        updates = {a: _COMBINE[fn].format(t=a)
                   for a, fn in inc["aggs"].items()}
        session.merge_into(name, delta, on=keys,
                           when_matched_update=updates)
        session.refresh()
        spec["last_snapshot"] = session.catalog.snapshot_id
        _save_spec(session, name, spec)
        return {"mode": "incremental", "snapshot": spec["last_snapshot"]}
    finally:
        delta.unpersist()


def drop_materialized_view(session, name: str,
                           if_exists: bool = False) -> None:
    """DROP MATERIALIZED VIEW: verifies the table IS one, clears the
    spec option, drops the backing table (data files remain for time
    travel — the normal drop contract)."""
    from ..errors import SchemaNotFound, TableNotFound
    try:
        load_spec(session, name)
    except (InvalidConfig, TableNotFound, SchemaNotFound):
        if if_exists:
            return
        raise
    session.set_option(MV_OPTION, None, table_name=name)
    session.drop_table(name)


def matview_status_rows(p, snapshot_id: int):
    """(schema_name, table_name, source, incremental, last_snapshot,
    current_snapshot, current) per materialized view. Provider API only
    — no SparkSession, no file I/O (the clustering_status contract) —
    so one definition serves ``DuckLakeSession.matview_status``,
    ``ducklake_matview_info()`` and information_schema.materialized_views
    (all through operators/info_schema.materialized_views_df)."""
    for schema_name, t in sorted(p.list_all_tables(snapshot_id),
                                 key=lambda st: (st[0], st[1].table_name)):
        raw = p.get_scoped_option(MV_OPTION, None, t.table_id)
        if not raw:
            continue
        try:
            spec = json.loads(raw)
        except (ValueError, TypeError):
            continue
        if not isinstance(spec, dict):
            continue
        inc = spec.get("incremental")
        last = spec.get("last_snapshot")
        src = (inc or {}).get("source")
        cur: Optional[bool] = None
        if src is not None and last is not None:
            changed = _source_changed_rows(p, src, last, snapshot_id)
            cur = (not changed) if changed is not None else None
        yield (schema_name, t.table_name, src, inc is not None,
               last, snapshot_id, cur)


def _source_changed_rows(p, source: str, last: int,
                         snapshot_id: int) -> Optional[bool]:
    """Catalog-only staleness: data or delete files added to the source
    in (last, snapshot_id]. None when the source is gone. Inlined-only
    appends are not visible to this probe (refresh still catches them);
    the flag is a cheap indicator, the refresh path is the authority."""
    parts = source.split(".")
    schema_name, table_name = (parts[0], parts[1]) if len(parts) == 2 \
        else ("main", parts[0])
    for sname, t in p.list_all_tables(snapshot_id):
        if sname == schema_name and t.table_name == table_name:
            if p.get_data_files_added_between(t.table_id, last,
                                              snapshot_id):
                return True
            if p.get_delete_files_added_between(t.table_id, last,
                                                snapshot_id):
                return True
            return False
    return None
