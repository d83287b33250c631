"""Catalog-path benchmark of datafusion_ducklake_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload fresh_point_meta --seed 1 --seconds 12 --trace 0

Workloads: ``fresh_point_meta`` and ``mor_write_mix``. Each run starts
Spark (``local[n]``, half the cores), warms up on a small lake, builds a
SQLite-backed DuckLake catalog in a per-run directory under
``.perfbench/``, then runs closed-loop rounds of seeded operations for
``--seconds`` (whole rounds; at least one), and checks every result
against DuckDB. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the same seed untraced and then traced and reports the per-layer
metrics, writing the spans to ``.perfbench/out/``.

Every metric is printed as ``metric <name> <value> <unit>``; the last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import re
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field
from typing import Optional

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

E2E_UNITS = {"setup_s": "s", "read_p50_ms": "ms", "read_tail_ms": "ms",
             "ops_per_s": "1/s", "peak_rss_mb": "MB"}
# measured only where the workload writes (mor_write_mix)
WRITE_UNITS = {"write_p50_ms": "ms", "write_tail_ms": "ms",
               "write_amp": "ratio", "space_amp": "ratio",
               "failed_ratio": "ratio"}
LAYER_UNITS = {
    "catalog.refresh_ms": "ms", "catalog.sql_ms": "ms",
    "provider.calls_per_op": "count", "provider.ms_per_op": "ms",
    "provider.statements_per_op": "count",
    "writer.calls_per_write": "count", "writer.ms_per_write": "ms",
    "spark.plan_ms": "ms", "spark.exec_ms": "ms",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.floor_ms": "ms",
    "spark.shuffle_bytes_per_op": "bytes", "spark.spill_bytes_per_op": "bytes",
    "scan.files_per_op": "count", "scan.files_live_per_op": "count",
    "scan.files_pruned_ratio": "ratio", "scan.bytes_per_op": "bytes",
    "scan.rows_per_row_returned": "ratio", "scan.delete_files_live": "count",
    "dml.insert_ms": "ms", "dml.delete_ms": "ms", "dml.update_ms": "ms",
    "dml.merge_ms": "ms",
    "table_writer.files_per_write": "count",
    "table_writer.bytes_per_write": "bytes",
    "cdc.changes_ms": "ms", "cdc.rows_per_op": "count",
    "trace.overhead_ratio": "ratio", "trace.sql_layer_share": "ratio",
    **WRITE_UNITS,
}
WARM_SCALE = 0.001    # scale of the warm-up lake
SETUP_REPEATS = 3


@dataclass
class Record:
    op: object
    seconds: float = 0.0
    result: object = None
    error: Optional[str] = None
    rows: int = 0
    rejected: bool = False     # raised, or the oracle rejected the result
    written_rows: int = 0      # rows a write statement reported
    cdc_rows: int = 0          # change rows a cdc op counted
    layer: dict = field(default_factory=dict)   # traced counters of the op


@dataclass
class PassResult:
    log: list
    wall: float
    settle_s: float = 0.0        # untimed settling rounds before the window
    lake_bytes_added: int = 0
    round_stats: list = field(default_factory=list)  # traced, per round


# -- process hygiene ---------------------------------------------------------

def _children(pid: int) -> list[int]:
    """All descendants of ``pid``, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class SparkProcess:
    """The Spark JVM this run starts, and how to stop it for certain."""

    def __init__(self, cpus: int):
        from pyspark import SparkContext
        from datafusion_ducklake_spark.sparkutil import build_spark
        self.spark = build_spark("perfbench", cpus=cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = SparkContext._gateway.proc
        self.spark.range(1).collect()

    def rss_parts_mb(self) -> dict[str, float]:
        """High-water resident size of the driver and of the JVM."""
        return {"python": _hwm_mb(os.getpid()), "jvm": _hwm_mb(self.proc.pid)}

    def stop(self) -> None:
        from pyspark import SparkContext
        kids = _children(self.proc.pid)
        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                with contextlib.suppress(Exception):
                    gw.shutdown()
            with contextlib.suppress(OSError):
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any failure: kill for certain
                self.proc.kill()
                self.proc.wait()
            deadline = time.monotonic() + 10
            for pid in kids:
                while _alive(pid) and time.monotonic() < deadline:
                    time.sleep(0.05)
                if _alive(pid):
                    with contextlib.suppress(OSError):
                        os.kill(pid, signal.SIGKILL)


# -- statistics ----------------------------------------------------------------

def tail(samples: list[float]) -> tuple[float, str, int]:
    """Highest of p99/p95/p90 with at least ten samples beyond it; with
    fewer than 100 samples, p90. Returns (value, percentile, beyond)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 1:
        return xs[0], "p90", 0
    q = statistics.quantiles(xs, n=100, method="inclusive")
    for p in (99, 95, 90):
        if n * (100 - p) / 100 >= 10:
            break
    v = q[p - 1]
    return v, f"p{p}", sum(1 for x in xs if x > v)


def _outermost(spans) -> dict[str, float]:
    """Seconds per span name, counting only spans with no ancestor of the
    same name (a re-entrant call is not counted twice)."""
    by_id = {s.span_id: s for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        p = by_id.get(s.parent)
        while p is not None and p.name != s.name:
            p = by_id.get(p.parent)
        if p is None:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# -- the run -------------------------------------------------------------------

class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        work = os.path.join(root, ".perfbench")
        self.out_dir = os.path.join(work, "out")
        self.data_root = os.path.join(work, "data")
        self.run_dir = os.path.join(work, f"run-{os.getpid()}")
        self.lakes = 0

    # hermetic environment: every file Spark, DuckDB, Python workers and
    # temp-file users write goes under the per-run directory
    def prepare_env(self) -> None:
        import tempfile
        tmp = os.path.join(self.run_dir, "tmp")
        for d in (tmp, self.out_dir, self.data_root):
            os.makedirs(d, exist_ok=True)
        # half the cores: Spark's task threads then leave room for the
        # driver, the Python workers and the JVM's own threads
        cpus = max(1, (os.cpu_count() or 1) // 2)
        env = {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "spark-local"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "PYSPARK_PYTHON": sys.executable,
            # a fixed young generation: the JVM's resident size then
            # follows the data it retains, not the collector's sizing
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -Xmn384m",
            # few malloc arenas: native allocations from many JVM threads
            # otherwise leave a resident size that varies run to run
            "MALLOC_ARENA_MAX": "2",
            # build_spark's 8g heap and 16g off-heap cap made runs bimodal
            # on a 4-core, 15 GB machine (fresh_point_meta read_p50_ms
            # spread 0.44 over five seeds, 0.14 with these)
            "SPARK_GRAFT_DRIVER_MEM": "3g",
            "SPARK_GRAFT_OFFHEAP": "2g",
        }
        os.environ.update(env)
        # Spark's Python workers (the DML path's applyInPandas) import the
        # library from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p])
        tempfile.tempdir = tmp
        # relative defaults (spark-warehouse, metastore_db) land here
        os.chdir(self.run_dir)
        self.cpus = cpus

    def new_lake(self, workload):
        self.lakes += 1
        lake = os.path.join(self.run_dir, f"lake{self.lakes}")
        t0 = time.perf_counter()
        dl = workload.build(self.spark, lake)
        return dl, lake, time.perf_counter() - t0

    # one op, timed from the first call into the library to the last
    # Arrow batch; traced ops also collect their Spark and layer counters
    def execute(self, dl, op, tracer, n: int) -> Record:
        from tracing import dir_usage, job_counts, plan_metrics
        rec = Record(op)
        span = tracer.span if tracer else (lambda _n: contextlib.nullcontext())
        if tracer:
            group = f"perfbench-op-{n}"
            self.spark.sparkContext.setJobGroup(group, op.label)
            tracer.op_id = n
            before = dict(tracer.counts)
            first_span = len(tracer.spans)
            files0, bytes0 = dir_usage(self.lake_data) if op.kind == "write" \
                else (0, 0)
        df = None
        t0 = time.perf_counter()
        try:
            with span("op"):
                if op.refresh:
                    dl.refresh()
                if op.call is not None:
                    with span("catalog.list_files"):
                        df = op.call(dl)
                else:
                    df = dl.sql(op.sql)
                if tracer:
                    with span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                with span("spark.exec"):
                    rec.result = df.toArrow()
            rec.rows = rec.result.num_rows
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            rec.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        rec.seconds = time.perf_counter() - t0
        if tracer:
            tracer.op_id = None
            lay = {k: v - before.get(k, 0.0) for k, v in tracer.counts.items()}
            for name, secs in _outermost(tracer.spans[first_span:]).items():
                lay[name + "_s"] = secs
            lay["jobs"], lay["tasks"] = job_counts(self.spark, group)
            if op.kind == "read" and rec.error is None:
                lay.update(plan_metrics(df._jdf))
                if op.sql:
                    lay["scan.files_live"] = sum(
                        c for t, c in tracer.live_files.items()
                        if re.search(rf"\b{t}\b", op.sql))
            if op.kind == "write":
                files1, bytes1 = dir_usage(self.lake_data)
                lay["files_written"] = files1 - files0
                lay["bytes_written"] = bytes1 - bytes0
            rec.layer = lay
        return rec

    def warm_up(self, workload) -> float:
        """The first operation of each type in a round, on a small lake in
        this session, so JIT compilation, code generation and Python
        workers are warm before timing (a whole round took longer and left
        runs no steadier). Returns the seconds it took, build included."""
        t0 = time.perf_counter()
        dl, lake, _ = self.new_lake(workload)
        self.lake_data = os.path.join(lake, "data")
        seen = set()
        for n, op in enumerate(workload.ops(dl)):
            if op is None:
                break
            if op.tag in seen:
                continue
            seen.add(op.tag)
            rec = self.execute(dl, op, None, n)
            if rec.error is not None:
                raise RuntimeError(f"warm-up {op.label}: {rec.error}")
        return time.perf_counter() - t0

    def run_pass(self, workload, dl, lake: str, tracer) -> PassResult:
        """Closed-loop rounds from a freshly built lake until ``--seconds``
        have passed at a round boundary (at least one round), after the
        workload's untimed settling rounds."""
        from tracing import dir_usage
        self.lake_data = os.path.join(lake, "data")
        log, n = [], 0
        gen = workload.ops(dl)
        t_settle = time.perf_counter()
        for _ in range(workload.settle_rounds):
            for op in gen:
                if op is None:
                    break
                n += 1
                self.execute(dl, op, None, n)
        settle_s = time.perf_counter() - t_settle
        _, bytes0 = dir_usage(self.lake_data)
        per_round = []
        t_start = time.perf_counter()
        for op in gen:
            if op is None:
                if tracer:
                    per_round.append(workload.round_stat(dl))
                if time.perf_counter() - t_start >= self.args.seconds:
                    break
                continue
            n += 1
            log.append(self.execute(dl, op, tracer, n))
        wall = time.perf_counter() - t_start
        _, bytes1 = dir_usage(self.lake_data)
        return PassResult(log, wall, settle_s, bytes1 - bytes0, per_round)

    def check(self, workload, dl, pr: PassResult) -> list[str]:
        """Oracle pass over the log (outside the timed window): the first
        result of each label against DuckDB, repeats against the first."""
        problems, first_rows = [], {}
        for rec in pr.log:
            bad = []
            if rec.error is not None:
                bad = [f"{rec.op.label}: {rec.error}"]
            elif rec.op.label in first_rows:
                if rec.rows != first_rows[rec.op.label]:
                    bad = [f"{rec.op.label}: {rec.rows} rows, first run "
                           f"returned {first_rows[rec.op.label]}"]
            else:
                first_rows[rec.op.label] = rec.rows
                try:
                    bad = workload.check(rec.op, rec.result)
                except Exception as e:  # noqa: BLE001 - oracle error = failure
                    bad = [f"{rec.op.label}: oracle error "
                           f"{type(e).__name__}: {e}"]
            rec.result = None
            rec.rejected = bool(bad)
            problems += bad
        return problems + workload.finish(dl)

    def end_to_end(self, workload, dl, pr: PassResult) -> dict:
        ok = [r for r in pr.log if not r.rejected]
        m, detail = {}, {}
        reads = [r.seconds * 1e3 for r in ok if r.op.kind == "read"]
        writes = [r.seconds * 1e3 for r in ok if r.op.kind == "write"]
        for prefix, xs in (("read", reads), ("write", writes)):
            if not xs:
                continue
            m[f"{prefix}_p50_ms"] = statistics.median(xs)
            v, pct, beyond = tail(xs)
            m[f"{prefix}_tail_ms"] = v
            detail[f"{prefix}_tail_ms"] = {"percentile": pct,
                                           "beyond": beyond, "n": len(xs)}
        m["ops_per_s"] = _ops_per_s(pr)
        m["failed_ratio"] = (len(pr.log) - len(ok)) / max(1, len(pr.log))
        # rows inserted or rewritten (a DELETE writes no user rows)
        user_rows = sum(r.written_rows for r in ok
                        if r.op.kind == "write" and r.op.tag != "delete")
        m.update(workload.storage_metrics(dl, pr.lake_bytes_added, user_rows,
                                          self.run_dir))
        return m, detail

    def per_layer(self, workload, pr: PassResult) -> dict:
        timed = [r for r in pr.log if r.error is None]
        reads = [r for r in timed if r.op.kind == "read"]
        writes = [r for r in timed if r.op.kind == "write"]

        def per(recs, key, scale=1.0):
            return _mean(r.layer.get(key, 0.0) * scale for r in recs)

        def where(recs, key):    # mean over ops that reached the layer
            return _mean(r.layer[key] * 1e3 for r in recs if key in r.layer)

        m = {
            "catalog.refresh_ms": where(timed, "catalog.refresh_s"),
            "catalog.sql_ms": where(timed, "catalog.sql_s"),
            "provider.calls_per_op": per(timed, "provider.calls"),
            "provider.ms_per_op": per(timed, "provider.s", 1e3),
            "provider.statements_per_op": per(timed, "provider.statements"),
            "writer.calls_per_write": per(writes, "writer.calls"),
            "writer.ms_per_write": per(writes, "writer.s", 1e3),
            "spark.plan_ms": per(reads, "spark.plan_s", 1e3),
            "spark.exec_ms": per(reads, "spark.exec_s", 1e3),
            "spark.jobs_per_op": per(timed, "jobs"),
            "spark.tasks_per_op": per(timed, "tasks"),
            "spark.shuffle_bytes_per_op": per(reads, "shuffle_bytes"),
            "spark.spill_bytes_per_op": per(reads, "spill_bytes"),
            "scan.files_per_op": per(reads, "scan_files"),
            "scan.files_live_per_op": per(reads, "scan.files_live"),
            "scan.bytes_per_op": per(reads, "scan_bytes"),
            "table_writer.files_per_write": per(writes, "files_written"),
            "table_writer.bytes_per_write": per(writes, "bytes_written"),
        }
        live = sum(r.layer.get("scan.files_live", 0) for r in reads)
        m["scan.files_pruned_ratio"] = sum(
            r.layer.get("scan_files", 0) for r in reads) / live if live else 0.0
        returned = sum(r.rows for r in reads)
        m["scan.rows_per_row_returned"] = sum(
            r.layer.get("scan_rows", 0) for r in reads) / max(1, returned)
        stats = [x for x in pr.round_stats if x is not None]
        m["scan.delete_files_live"] = float(stats[-1]) if stats else 0.0
        for kind in ("insert", "delete", "update", "merge"):
            m[f"dml.{kind}_ms"] = where(
                [r for r in writes if r.op.tag == kind], f"dml.{kind}_s")
        cdc = [r for r in reads if r.op.tag == "cdc"]
        m["cdc.changes_ms"] = _mean(r.seconds * 1e3 for r in cdc)
        m["cdc.rows_per_op"] = _mean(r.cdc_rows for r in cdc)
        return m

    def spark_floor_ms(self) -> float:
        walls = []
        for _ in range(11):
            t0 = time.perf_counter()
            self.spark.range(1, numPartitions=1).toArrow()
            walls.append((time.perf_counter() - t0) * 1e3)
        return statistics.median(walls)


def _ops_per_s(pr: PassResult) -> float:
    """Ops that completed with a correct result, per second of window."""
    return sum(1 for r in pr.log if not r.rejected) / pr.wall


def _annotate(workload, pr: PassResult) -> None:
    """Row counts the metrics need, read from the results before the
    oracle pass releases them."""
    for r in pr.log:
        r.written_rows = 0
        r.cdc_rows = 0
        if r.result is None:
            continue
        if r.op.kind == "write":
            r.written_rows = int(sum(x or 0 for x in
                                     r.result.column(0).to_pylist()))
        elif r.op.tag == "cdc":
            counts = dict(zip(r.result.column("change_type").to_pylist(),
                              r.result.column("n").to_pylist()))
            r.cdc_rows = sum(counts.values())


def _load_compare(root: str):
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def parse_args(argv):
    from workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None,
                   help="scale factor of the generated tables "
                        "(default: the workload's)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    for need in ("datafusion_ducklake_spark/__init__.py",
                 "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the root of a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, root)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, root)
    try:
        bench.prepare_env()
        return run(bench, args, root)
    finally:
        os.chdir(root)
        shutil.rmtree(bench.run_dir, ignore_errors=True)


def run(bench: Bench, args, root: str) -> int:
    import datagen
    from tracing import Instrumentation, Tracer
    from workloads import WORKLOADS

    compare = _load_compare(root)
    cls = WORKLOADS[args.workload]
    args.scale = args.scale or cls.scale

    def data(scale):    # only workloads that register tables read any
        return datagen.ensure_tables(bench.data_root, scale) \
            if cls.tables else None

    workload = cls(data(args.scale), args.seed, compare)
    warm = cls(data(WARM_SCALE), args.seed, compare)
    phases = {}
    t0 = time.perf_counter()
    sp = SparkProcess(bench.cpus)
    bench.spark = sp.spark
    try:
        phases["spark_start_s"] = time.perf_counter() - t0
        phases["warm_up_s"] = bench.warm_up(warm)
        builds = [bench.new_lake(workload) for _ in range(SETUP_REPEATS)]
        phases["build_s"] = statistics.median(b[2] for b in builds)
        dl, lake, _ = builds[-1]
        passes = {}
        pr = bench.run_pass(workload, dl, lake, None)
        phases["settle_s"] = pr.settle_s
        setup_s = sum(phases.values())
        phases["window_s"] = pr.wall
        t1 = time.perf_counter()
        _annotate(workload, pr)
        problems = bench.check(workload, dl, pr)
        phases["check_s"] = time.perf_counter() - t1
        e2e, detail = bench.end_to_end(workload, dl, pr)
        e2e["setup_s"] = setup_s
        rss = sp.rss_parts_mb()
        e2e["peak_rss_mb"] = sum(rss.values())
        passes["untraced"] = pr
        layer = {}
        if args.trace:
            tracer = Tracer()
            dl2, lake2, _ = bench.new_lake(workload)
            inst = Instrumentation(tracer)
            inst.install(dl2)
            try:
                tp = bench.run_pass(workload, dl2, lake2, tracer)
            finally:
                inst.uninstall()
            _annotate(workload, tp)
            problems += bench.check(workload, dl2, tp)
            passes["traced"] = tp
            layer = bench.per_layer(workload, tp)
            layer["trace.overhead_ratio"] = _ops_per_s(tp) / e2e["ops_per_s"]
            # the rest of dl.sql is its front end: rewrites, Spark analysis
            layer["trace.sql_layer_share"] = tracer.coverage("catalog.sql")
            layer["spark.floor_ms"] = bench.spark_floor_ms()
            for k in WRITE_UNITS:
                layer[k] = e2e.get(k, 0.0)
            tracer.dump(os.path.join(
                bench.out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        sp.stop()
        workload.close()
        warm.close()

    timed = [r for p in passes.values() for r in p.log]
    attempted = len(timed)
    failed = sum(1 for r in timed if r.rejected)
    correct = not problems and attempted > 0
    units = LAYER_UNITS if args.trace else E2E_UNITS

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace} cpus {bench.cpus} scale {args.scale}")
    shown = {**e2e, **layer}
    names = [n for n in list(E2E_UNITS) + list(WRITE_UNITS) if n in e2e]
    names += [n for n in LAYER_UNITS if n in layer and n not in names]
    for name in names:
        d = detail.get(name)
        note = f" ({d['percentile']}, {d['beyond']} of {d['n']} beyond)" \
            if d else ""
        unit = E2E_UNITS.get(name) or LAYER_UNITS[name]
        print(f"metric {name} {shown[name]:.6g} {unit}{note}")
    for p in problems[:20]:
        print(f"problem {p}")
    print(f"correct {str(correct).lower()} attempted {attempted} failed {failed}")

    metrics = {k: {"value": float(shown.get(k, 0.0)), "unit": u}
               for k, u in units.items()}
    with open(os.path.join(bench.out_dir,
                           f"result-{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "scale": args.scale,
                   "cpus": bench.cpus, "correct": correct,
                   "attempted": attempted, "failed": failed,
                   "metrics": metrics, "end_to_end": shown,
                   "tail": detail, "phases": phases, "problems": problems,
                   "rss_mb": rss,
                   "ops": {k: [[r.op.label, round(r.seconds * 1e3, 3)]
                               for r in p.log] for k, p in passes.items()},
                   "delete_files_per_round": {
                       k: p.round_stats for k, p in passes.items()}},
                  f, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
