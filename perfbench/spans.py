"""Outside-in tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files: :func:`install`
replaces the engine's public functions and methods with timing wrappers
*at the names their callers use* (``compaction.py`` imports
``write_sized_parquet`` and ``validate_row_counts`` by name, so those
module attributes are patched, not the defining modules).  No engine
file is changed.

Each span sets the Spark local property ``perfbench.span`` for its
thread, so every Spark job carries the id of the span that launched it;
:func:`attribute_event_log` joins the uncompressed event log back onto
the spans.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    client: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and
    sets no Spark property; ``span`` then costs one attribute test."""

    def __init__(self, spark_context=None, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark_context
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def _set_property(self, span: Span | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                SPAN_PROPERTY, None if span is None else str(span.id)
            )

    @contextlib.contextmanager
    def span(self, name: str, client: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self.current()
        sp = Span(
            id=next(self._ids),
            name=name,
            parent=parent.id if parent else None,
            client=client or (parent.client if parent else "main"),
            start=time.perf_counter(),
        )
        with self._lock:
            self.spans.append(sp)
        self._stack().append(sp)
        self._set_property(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack().pop()
            self._set_property(parent)

    @contextlib.contextmanager
    def adopt(self, parent: Span | None):
        """Run the body in another thread as if under ``parent``: the
        parent link survives a thread pool hand-off."""
        st = self._stack()
        saved = list(st)
        st[:] = [parent] if parent is not None else []
        self._set_property(parent)
        try:
            yield
        finally:
            st[:] = saved
            self._set_property(saved[-1] if saved else None)


# ---------------------------------------------------------------------------
# Self time
# ---------------------------------------------------------------------------


def self_times(spans: list[Span], root_id: int) -> dict[int, float]:
    """Exclusive time of every span in ``root_id``'s tree.

    The root's interval is cut at every span boundary.  Each piece goes
    to the deepest spans open over it -- those with no open child --
    split evenly when several run in parallel threads.  The pieces sum
    to the root's wall time exactly; the root's own share is the
    op's ``unattributed_s``."""
    by_id = {s.id: s for s in spans}
    root = by_id[root_id]
    children: dict[int, list[int]] = defaultdict(list)
    tree = [root]
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s.id)
    i = 0
    while i < len(tree):
        tree.extend(by_id[c] for c in children[tree[i].id])
        i += 1
    lo, hi = root.start, root.end
    cuts = sorted(
        {lo, hi}
        | {min(max(t, lo), hi) for s in tree for t in (s.start, s.end)}
    )
    out = {s.id: 0.0 for s in tree}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        open_ids = {s.id for s in tree if s.start <= a and s.end >= b}
        leaves = [
            sid
            for sid in open_ids
            if not any(c in open_ids for c in children[sid])
        ]
        for sid in leaves:
            out[sid] += (b - a) / len(leaves)
    return out


def op_trees(spans: list[Span]) -> dict[int, list[Span]]:
    """Root span id -> every span under it (roots have no parent)."""
    by_id = {s.id: s for s in spans}

    def root_of(s: Span) -> int:
        while s.parent is not None:
            s = by_id[s.parent]
        return s.id

    out: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        out[root_of(s)].append(s)
    return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

SPARK_METRICS = (
    "spark.jobs",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.input_bytes",
    "spark.python_bytes_in",
    "spark.python_bytes_out",
)
# SQL metrics of the Python execution nodes (Arrow UDFs, mapInArrow,
# Python data sources); "in" is what the JVM sent to Python workers
_PY_IN = "data sent to Python workers"
_PY_OUT = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``, in file
    order (rolling ``eventlog_v2_*/events_*`` or single files)."""
    paths = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    paths += sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    events = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def attribute_event_log(events: list[dict]) -> tuple[dict, int, int]:
    """Spark stage metrics per span id.

    Returns ``(per_span, jobs, unattributed_jobs)``: ``per_span[id]``
    maps each :data:`SPARK_METRICS` name to its sum over the tasks of
    the jobs that span launched.  A job belongs to the span named by its
    ``perfbench.span`` property; a stage shared by several jobs counts
    for the first."""
    stage_span: dict[int, str] = {}
    per_span: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(SPARK_METRICS, 0.0)
    )
    jobs = unattributed = 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs += 1
            sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            if sid is None:
                unattributed += 1
                sid = "none"
            per_span[sid]["spark.jobs"] += 1
            for st in ev.get("Stage IDs", []):
                stage_span.setdefault(st, sid)
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev.get("Stage ID"), "none")
            m = per_span[sid]
            tm = ev.get("Task Metrics") or {}
            m["spark.tasks"] += 1
            m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            m["spark.shuffle_read_bytes"] += sr.get(
                "Remote Bytes Read", 0
            ) + sr.get("Local Bytes Read", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            m["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            m["spark.input_bytes"] += (tm.get("Input Metrics") or {}).get(
                "Bytes Read", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name in (_PY_IN, _PY_OUT):
                    key = (
                        "spark.python_bytes_in"
                        if name == _PY_IN
                        else "spark.python_bytes_out"
                    )
                    m[key] += float(acc.get("Update") or 0)
    return dict(per_span), jobs, unattributed


# ---------------------------------------------------------------------------
# Wrappers at the engine's call sites
# ---------------------------------------------------------------------------


class _Installed:
    """Undo record for :func:`install`."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def patch(self, owner, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper_factory(orig))

    def remove(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


def _file_size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def install(tracer: Tracer) -> _Installed:
    """Wrap each layer's public entry points in spans; returns the undo
    record.  Counts a wrapper takes land in ``span.counts``."""
    import concurrent.futures

    from iceberg_compaction_spark import commit as commit_mod
    from iceberg_compaction_spark import compaction as compaction_mod
    from iceberg_compaction_spark import service as service_mod
    from iceberg_compaction_spark.plans.auto import AutoCompactionPlanner
    from iceberg_compaction_spark.sources import ingest as ingest_mod
    from iceberg_compaction_spark.sources import writer as writer_mod
    from iceberg_compaction_spark.sources.catalog import FileCatalog
    from iceberg_compaction_spark.sources.writer import SIZE_BAND

    inst = _Installed()

    def timed(name, count=None):
        def factory(fn):
            def wrapper(*args, **kwargs):
                with tracer.span(name) as sp:
                    out = fn(*args, **kwargs)
                    if count is not None and sp is not None:
                        count(sp, out, args, kwargs)
                    return out

            wrapper.__wrapped__ = fn
            return wrapper

        return factory

    # --- plans ------------------------------------------------------------
    def count_plans(sp, plans, args, kwargs):
        manifest = args[1] if len(args) > 1 else kwargs.get("manifest")
        sp.counts["tasks_examined"] = len(manifest.data_files)
        sp.counts["files_selected"] = sum(
            len(p.file_group.data_files) for p in plans
        )
        sp.counts["groups"] = len(plans)

    def count_report(sp, report, args, kwargs):
        tasks = args[1] if len(args) > 1 else kwargs.get("tasks")
        sp.counts["tasks_examined"] = len(tasks or [])
        sp.counts["files_selected"] = report.planned_input_files
        sp.counts["groups"] = len(report.plans)

    inst.patch(compaction_mod.Compaction, "plan", timed("plans.plan", count_plans))
    inst.patch(
        AutoCompactionPlanner, "plan_report", timed("plans.plan", count_report)
    )

    # --- catalog / manifest -----------------------------------------------
    def count_load(sp, m, args, kwargs):
        cat, name = args[0], args[1]
        sp.counts["loads"] = 1
        sp.counts["entries"] = len(m.data_files)
        sp.counts["bytes_read"] = _file_size(
            cat._version_path(name, m.snapshot_id)
        )

    def count_commit(sp, m, args, kwargs):
        cat, name = args[0], args[1]
        sp.counts["commits"] = 1
        sp.counts["bytes_written"] = _file_size(
            cat._version_path(name, m.snapshot_id)
        )

    inst.patch(FileCatalog, "load_table", timed("catalog.load", count_load))
    inst.patch(FileCatalog, "commit_table", timed("catalog.commit", count_commit))

    # --- commit -----------------------------------------------------------
    inst.patch(
        commit_mod.CommitManager, "rewrite_files", timed("commit.rewrite_files")
    )

    def retry_factory(fn):
        def wrapper(self, do_commit, *args, **kwargs):
            with tracer.span("commit.retry") as sp:
                tally = {"attempts": 0, "conflicts": 0}

                def counted():
                    tally["attempts"] += 1
                    with tracer.span("commit.attempt"):
                        try:
                            return do_commit()
                        except commit_mod.CommitConflict:
                            tally["conflicts"] += 1
                            raise

                try:
                    out = fn(self, counted, *args, **kwargs)
                    ok = 1
                    return out
                except BaseException:
                    ok = 0
                    raise
                finally:
                    if sp is not None:
                        sp.counts.update(tally, successes=ok)

        wrapper.__wrapped__ = fn
        return wrapper

    inst.patch(commit_mod.CommitManager, "commit_with_retry", retry_factory)

    # --- operators.mor: driver-side DataFrame construction --------------
    inst.patch(compaction_mod, "rewrite_file_group", timed("mor.build"))
    inst.patch(ingest_mod, "rewrite_file_group", timed("mor.build"))

    # --- writer -----------------------------------------------------------
    def count_write(sp, tasks, args, kwargs):
        sp.counts["files_out"] = len(tasks)
        sp.counts["bytes_out"] = sum(t.file_size_in_bytes for t in tasks)

    inst.patch(
        compaction_mod, "write_sized_parquet", timed("writer.write", count_write)
    )
    inst.patch(
        writer_mod, "enforce_size_band", timed("writer.enforce_band", count_write)
    )

    def count_rewrite(sp, res, args, kwargs):
        target = args[0].config.writer.target_file_size_bytes
        lo, hi = SIZE_BAND
        files = res.added_files
        sp.counts["final_files"] = len(files)
        sp.counts["in_band"] = sum(
            lo * target <= t.file_size_in_bytes <= hi * target for t in files
        )

    inst.patch(
        compaction_mod.Compaction,
        "rewrite",
        timed("compaction.rewrite", count_rewrite),
    )

    # --- validator --------------------------------------------------------
    def count_validate(sp, v, args, kwargs):
        sp.counts["rows_checked"] = v.input_rows

    inst.patch(
        compaction_mod,
        "validate_row_counts",
        timed("validator.validate", count_validate),
    )

    # --- ingest / service -------------------------------------------------
    inst.patch(ingest_mod, "upsert", timed("ingest.upsert"))
    inst.patch(service_mod, "maintain", timed("service.maintain"))
    inst.patch(
        compaction_mod.Compaction, "execute_plans", timed("compaction.execute")
    )
    inst.patch(FileCatalog, "expire_snapshots", timed("service.expire"))
    inst.patch(FileCatalog, "remove_orphan_files", timed("service.orphans"))

    # --- parent links across execute_plans' thread pool -----------------
    class SpanPool(concurrent.futures.ThreadPoolExecutor):
        def submit(self, fn, /, *args, **kwargs):
            parent = tracer.current()

            def run():
                with tracer.adopt(parent):
                    return fn(*args, **kwargs)

            return super().submit(run)

    inst.patch(compaction_mod, "ThreadPoolExecutor", lambda orig: SpanPool)
    return inst


# ---------------------------------------------------------------------------
# Per-op breakdown and per-layer metrics
# ---------------------------------------------------------------------------

# span name -> per-layer self-time metric
SELF_TIME = {
    "plans.plan": "plans.plan_s",
    "catalog.load": "catalog.load_s",
    "catalog.commit": "catalog.commit_s",
    "commit.rewrite_files": "commit.rewrite_files_s",
    "commit.retry": "commit.backoff_s",
    "commit.attempt": "commit.attempt_self_s",
    "mor.build": "mor.build_s",
    "writer.write": "writer.write_s",
    "writer.enforce_band": "writer.enforce_band_s",
    "validator.validate": "validator.validate_s",
    "datasource.read": "datasource.read_s",
    "ingest.upsert": "ingest.upsert_self_s",
    "service.maintain": "service.self_s",
    "service.expire": "service.expire_s",
    "service.orphans": "service.orphans_s",
}
# span name -> per-layer metric of its whole (inclusive) duration
INCLUSIVE = {"compaction.execute": "service.execute_s"}


def breakdowns(
    spans: list[Span], per_span: dict, roots: list[int]
) -> list[dict]:
    """For each measured root op: its wall time, the self time of every
    span name under it, ``unattributed_s`` (the root's own share), the
    wrappers' counts and the Spark stage metrics of its jobs.  Self
    times plus ``unattributed_s`` equal ``wall_s``."""
    trees = op_trees(spans)
    out = []
    for rid in roots:
        tree = trees[rid]
        root = next(s for s in tree if s.id == rid)
        st = self_times(tree, rid)
        layers: dict[str, float] = defaultdict(float)
        inclusive: dict[str, float] = defaultdict(float)
        counts: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        spark = dict.fromkeys(SPARK_METRICS, 0.0)
        for s in tree:
            if s.id != rid:
                layers[s.name] += st[s.id]
                inclusive[s.name] += s.end - s.start
            counts[s.name]["calls"] += 1
            for k, v in s.counts.items():
                counts[s.name][k] += v
            for k, v in per_span.get(str(s.id), {}).items():
                spark[k] += v
        entries = [
            s.counts["entries"] for s in tree if "entries" in s.counts
        ]
        out.append(
            {
                "op": root.name[len("op."):],
                "client": root.client,
                "span": rid,
                "wall_s": root.end - root.start,
                "unattributed_s": st[rid],
                "layers": dict(layers),
                "inclusive": dict(inclusive),
                "counts": {k: dict(v) for k, v in counts.items()},
                "manifest_entries": entries,
                "spark": spark,
            }
        )
    return out


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(ops: list[dict]) -> dict:
    """Per-layer metrics of a run from its op breakdowns.

    Times (``*_s``) are means over the ops in which the layer ran; Spark
    stage metrics and ``unattributed_s`` are means over all ops; counts
    are per call of the layer's entry point unless named per op."""

    def total(span: str, key: str) -> float:
        return sum(o["counts"].get(span, {}).get(key, 0.0) for o in ops)

    def mean_where(values: list[float]) -> float:
        return statistics.fmean(values) if values else 0.0

    m: dict[str, tuple[float, str]] = {}
    names = {n for o in ops for n in o["layers"]}
    for span, metric in SELF_TIME.items():
        m[metric] = (
            mean_where([o["layers"][span] for o in ops if span in o["layers"]]),
            "s",
        )
    for span, metric in INCLUSIVE.items():
        m[metric] = (
            mean_where(
                [o["inclusive"][span] for o in ops if span in o["inclusive"]]
            ),
            "s",
        )
    for n in sorted(names):
        if n.startswith("operators."):
            m[n + "_s"] = (
                mean_where([o["layers"][n] for o in ops if n in o["layers"]]),
                "s",
            )
    n_ops = len(ops)
    plans = total("plans.plan", "calls")
    examined = total("plans.plan", "tasks_examined")
    selected = total("plans.plan", "files_selected")
    m["plans.tasks_examined"] = (_ratio(examined, plans), "count")
    m["plans.files_selected"] = (_ratio(selected, plans), "count")
    m["plans.groups"] = (_ratio(total("plans.plan", "groups"), plans), "count")
    m["plans.select_ratio"] = (_ratio(selected, examined), "ratio")
    m["catalog.loads_per_op"] = (_ratio(total("catalog.load", "loads"), n_ops), "count")
    m["catalog.bytes_read_per_op"] = (
        _ratio(total("catalog.load", "bytes_read"), n_ops),
        "bytes",
    )
    m["catalog.bytes_written_per_commit"] = (
        _ratio(
            total("catalog.commit", "bytes_written"),
            total("catalog.commit", "commits"),
        ),
        "bytes",
    )
    entries = [e for o in ops for e in o["manifest_entries"]]
    m["manifest.entries"] = (
        statistics.median(entries) if entries else 0.0,
        "count",
    )
    retries = total("commit.retry", "calls")
    attempts = total("commit.retry", "attempts")
    m["commit.attempts"] = (_ratio(attempts, retries), "count")
    m["commit.retries"] = (_ratio(total("commit.retry", "conflicts"), retries), "count")
    m["commit.success_ratio"] = (
        _ratio(total("commit.retry", "successes"), attempts),
        "ratio",
    )
    rewrites = total("compaction.rewrite", "calls")
    final_files = total("compaction.rewrite", "final_files")
    m["writer.files_out"] = (_ratio(final_files, rewrites), "count")
    m["writer.bytes_out"] = (
        _ratio(
            total("writer.write", "bytes_out")
            + total("writer.enforce_band", "bytes_out"),
            rewrites,
        ),
        "bytes",
    )
    m["writer.in_band_ratio"] = (
        _ratio(total("compaction.rewrite", "in_band"), final_files),
        "ratio",
    )
    m["validator.rows_checked"] = (
        _ratio(
            total("validator.validate", "rows_checked"),
            total("validator.validate", "calls"),
        ),
        "count",
    )
    for k in SPARK_METRICS:
        unit = "count" if k in ("spark.jobs", "spark.tasks") else (
            "s" if k.endswith("_s") else "bytes"
        )
        m[k] = (_ratio(sum(o["spark"][k] for o in ops), n_ops), unit)
    m["unattributed_s"] = (
        _ratio(sum(o["unattributed_s"] for o in ops), n_ops),
        "s",
    )
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
