"""Spans and counters recorded around the calls into each layer.

Everything here is installed from the benchmark's side: methods of the
library are wrapped at run time (``Instrumentation.install``), the library's
files are never edited. Spans stay in memory and are written out once, when
the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    """In-memory span recorder. Spans of one op share its ``op_id``."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.counts: dict[str, float] = defaultdict(float)
        # table name -> live data + delete files at its latest scan build
        self.live_files: dict[str, int] = {}

    def depth_of(self, prefix: str) -> int:
        """Open spans whose name starts with ``prefix`` (outermost test)."""
        return sum(1 for i in self._stack
                   if self.spans[i].name.startswith(prefix))

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self.spans[self._stack[-1]].span_id if self._stack else None
        s = Span(idx, name, time.perf_counter(), 0.0, parent, self.op_id)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child[s.span_id]
        return dict(out)

    def coverage(self, name: str) -> float:
        """Share of the summed wall of the ``name`` spans that their direct
        child spans cover."""
        by_parent = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                by_parent[s.parent] += s.end - s.start
        roots = [s for s in self.spans if s.name == name]
        wall = sum(s.end - s.start for s in roots)
        return sum(by_parent[s.span_id] for s in roots) / wall if wall else 0.0

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({
                "spans": [{"id": s.span_id, "name": s.name, "op": s.op_id,
                           "parent": s.parent,
                           "start_ms": (s.start - t0) * 1e3,
                           "end_ms": (s.end - t0) * 1e3} for s in self.spans],
                "self_ms": {k: v * 1e3 for k, v in self.self_times().items()},
            }, f)


def _public_methods(cls) -> list[str]:
    return [n for n, v in inspect.getmembers(cls, inspect.isfunction)
            if not n.startswith("_")]


class Instrumentation:
    """Wraps the layer entry points of one session with spans and counts.

    - ``catalog.refresh`` / ``catalog.sql``: the session's public calls.
    - ``provider.*``: public ``MetadataProvider`` methods of the session's
      provider instance (outermost calls only), and its catalog statements.
    - ``writer.*``: public ``CatalogWriter`` methods, at class level.
    - ``dml.*``: the DML operators behind ``dl.sql`` (delete/update/merge
      rows, and the table writer's insert entry point).
    - ``cdc.changes``: ``operators.cdc.table_changes``.
    - ``scan.build``: ``DuckLakeTable.to_df``, which composes the
      ``sources.scan`` plan; records each table's live data and delete
      files, the base of ``scan.files_pruned_ratio``.
    """

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def _patch(self, owner, name: str, wrapper_for) -> None:
        orig = owner.__dict__[name] if name in owner.__dict__ \
            else getattr(owner, name)
        self._undo.append((owner, name, orig))
        setattr(owner, name, wrapper_for(getattr(owner, name)))

    def _spanned(self, span_name: str, prefix: str | None = None,
                 on_call=None):
        tracer = self.tracer

        def deco(fn):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                outer = prefix is None or tracer.depth_of(prefix) == 0
                t0 = time.perf_counter()
                with tracer.span(span_name):
                    out = fn(*a, **kw)
                if outer and prefix is not None:
                    tracer.counts[prefix + "calls"] += 1
                    tracer.counts[prefix + "s"] += time.perf_counter() - t0
                if on_call is not None:
                    on_call(a, kw, out)
                return out
            return wrapper
        return deco

    def install(self, session) -> None:
        from datafusion_ducklake_spark import catalog, table_writer
        from datafusion_ducklake_spark.metadata import writer
        from datafusion_ducklake_spark.operators import cdc, dml

        t = self.tracer
        cls = type(session)
        self._patch(cls, "refresh", self._spanned("catalog.refresh"))
        self._patch(cls, "sql", self._spanned("catalog.sql"))

        prov = session.provider
        for name in _public_methods(type(prov)):
            self._patch(prov, name,
                        self._spanned(f"provider.{name}", "provider."))

        def count_stmt(fn):
            @functools.wraps(fn)
            def wrapper(*a, **kw):
                t.counts["provider.statements"] += 1
                return fn(*a, **kw)
            return wrapper
        self._patch(prov, "_fetchall", count_stmt)

        for name in _public_methods(writer.CatalogWriter):
            self._patch(writer.CatalogWriter, name,
                        self._spanned(f"writer.{name}", "writer."))

        self._patch(dml, "delete_rows", self._spanned("dml.delete"))
        self._patch(dml, "update_rows", self._spanned("dml.update"))
        self._patch(dml, "merge_rows", self._spanned("dml.merge"))
        self._patch(table_writer, "create_or_insert",
                    self._spanned("dml.insert"))
        self._patch(cdc, "table_changes", self._spanned("cdc.changes"))

        def live_files(a, kw, out):
            table = a[0]
            t.live_files[table.meta.table_name] = len(table.files) + sum(
                1 for f in table.files if f.delete_uri)
        self._patch(catalog.DuckLakeTable, "to_df",
                    self._spanned("scan.build", on_call=live_files))
        # views registered before tracing began: their tables' files now
        cat = session.catalog
        for schema_name in cat.schema_names():
            schema = cat.schema(schema_name)
            for table_name in schema.table_names():
                live_files((schema.table(table_name),), {}, None)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            if isinstance(owner, type) or inspect.ismodule(owner):
                setattr(owner, name, orig)
            else:
                owner.__dict__.pop(name, None)
        self._undo.clear()


# -- Spark-side counters ---------------------------------------------------

_PLAN_METRICS = {
    "shuffleBytesWritten": "shuffle_bytes",
    "spillSize": "spill_bytes",
    "numFiles": "scan_files",
    "filesSize": "scan_bytes",
}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def plan_metrics(jdf) -> dict[str, int]:
    """Sum SQL metrics over the final (post-AQE) physical plan of an
    executed DataFrame: shuffle bytes written, spill, files and bytes
    read by file scans, and rows the scans output."""
    out = dict.fromkeys(list(_PLAN_METRICS.values()) + ["scan_rows"], 0)
    root = jdf.queryExecution().executedPlan()
    stack, seen = [root], 0
    while stack and seen < 2000:
        node = stack.pop()
        seen += 1
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name and hasattr(node, "plan"):
            stack.append(node.plan())
            continue
        if name.startswith("ReusedExchange"):
            continue
        metrics = node.metrics()
        for key, label in _PLAN_METRICS.items():
            m = metrics.get(key)
            if m.isDefined():
                out[label] += int(m.get().value())
        if "Scan" in name:
            m = metrics.get("numOutputRows")
            if m.isDefined():
                out["scan_rows"] += int(m.get().value())
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


def job_counts(spark, group: str) -> tuple[int, int]:
    """Jobs and tasks Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            s = st.getStageInfo(sid)
            tasks += s.numTasks if s else 0
    return len(jobs), tasks


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) of the Parquet files under ``path``."""
    n = b = 0
    for dirpath, _, names in os.walk(path):
        for fn in names:
            if fn.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(dirpath, fn))
    return n, b
