"""Layer tracing from outside the package.

``Tracer.install`` replaces the package's public entry points at their
module attributes with span-recording wrappers, then rebinds every name
an already-imported package module took with ``from X import f``; query
modules imported afterwards (``registry.queries()``) bind the wrappers
directly. Spans live in memory: name, start, end, parent, op id. The
event-log parser turns Spark's own per-task metrics into the ``exec.*``
layer, keyed by the job group each op runs under.

Calls the wrappers cannot see (their layer figures are lower bounds):
- code that runs inside Python workers, e.g. the ``vector_search`` UDTF's
  ``eval`` (its candidate search is timed as the whole SQL statement);
- package functions reached through references taken before install
  (default arguments, closures, containers of functions);
- Spark jobs launched from threads other than the client thread (the job
  group is thread-local), for every ``*_jobs`` count.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "flink_connector_lance_spark"

# (module, attribute, span name)
TRACED = [
    ("io", "load_table", "io.load_table"),
    ("sources.writer", "write_dataset", "writer.write"),
    ("sources.reader", "read_dataset", "reader.read"),
    ("sources.fragments", "commit", "fragments.commit"),
    ("sources.fragments", "read_manifest", "fragments.read_manifest"),
    ("sources.fragments", "read_manifest_compat", "fragments.read_manifest"),
    ("sources.maintenance", "delete_rows", "maintenance.delete"),
    ("sources.maintenance", "merge_rows", "maintenance.merge"),
    ("sources.maintenance", "compact_dataset", "maintenance.compact"),
    ("sources.maintenance", "vacuum_dataset", "maintenance.vacuum"),
    ("sources.maintenance", "read_changes", "maintenance.read_changes"),
    ("index", "build_index", "index.ivf_build"),
    ("index", "search_dataset", "index.search"),
    ("pq", "build_pq_index", "pq.build"),
    ("pq", "pq_search", "pq.search"),
    ("hnsw", "build_hnsw_index", "hnsw.build"),
    ("hnsw", "hnsw_search", "hnsw.search"),
]

# spans whose Spark jobs are counted under their own job group
JOB_COUNTED = {"index.ivf_build", "pq.build", "hnsw.build"}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    info: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``enabled`` gates recording so the same
    wrappers can run an op untraced (the overhead probe)."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self.sc = None  # the SparkContext, set once the timed session runs
        # span name -> fn(args, kwargs, result) -> dict of counts, run after
        # the span closes (so its cost is tracing overhead, not layer time)
        self.hooks: dict = {}
        self._stack = threading.local()
        self._installed: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _parents(self) -> list[int]:
        st = getattr(self._stack, "ids", None)
        if st is None:
            st = self._stack.ids = []
        return st

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parents = self._parents()
        self.spans.append(Span(name, time.perf_counter(), 0.0,
                               parents[-1] if parents else None, self.op))
        idx = len(self.spans) - 1
        parents.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        parents = self._parents()
        if parents and parents[-1] == idx:
            parents.pop()

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Record a span around the block and yield its index (None when
        disabled). With ``group``, the Spark jobs the block fires run
        under their own job group, whose id and job count land on the span."""
        idx = self.begin(name)
        gid = None
        if idx is not None and group is not None and self.sc is not None:
            gid = f"op{self.op}-{group}-{idx}"
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            prev_desc = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobGroup(gid, name)
        try:
            yield idx
        finally:
            if gid is not None:
                self.spans[idx].info.update(
                    group=gid, jobs=len(self.sc.statusTracker().getJobIdsForGroup(gid)))
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
                self.sc.setLocalProperty("spark.job.description", prev_desc)
            self.end(idx)

    # -- install ---------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self
        group = "jobs" if name in JOB_COUNTED else None

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, group) as idx:
                out = fn(*args, **kwargs)
            hook = tracer.hooks.get(name)
            if hook is not None:
                tracer.spans[idx].info.update(hook(args, kwargs, out))
            return out

        traced.__wrapped_by_perfbench__ = fn
        return traced

    def install(self) -> list[str]:
        """Wrap every TRACED entry point; returns the rebound
        ``module.name`` bindings found in already-imported modules."""
        originals = {}
        for mod_name, attr, span_name in TRACED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            if hasattr(fn, "__wrapped_by_perfbench__"):
                continue
            wrapped = self._wrap(fn, span_name)
            setattr(mod, attr, wrapped)
            self._installed.append((mod, attr, fn))
            originals[id(fn)] = (fn, wrapped)
        rebound = []
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(PKG) or mod is None:
                continue
            for k, v in list(vars(mod).items()):
                hit = originals.get(id(v))
                if hit is not None and hit[0] is v:
                    setattr(mod, k, hit[1])
                    rebound.append(f"{mname}.{k}")
        return rebound

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._installed):
            setattr(mod, attr, fn)
        self._installed.clear()

    # -- analysis --------------------------------------------------------
    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def outermost(self, name: str) -> list[Span]:
        """Spans of ``name`` not nested in another span of the same name
        (a wrapped function calling another wrapped entry of one layer,
        e.g. read_manifest_compat -> read_manifest, counts once)."""
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            p = s.parent
            while p is not None and self.spans[p].name != name:
                p = self.spans[p].parent
            if p is None:
                out.append(s)
        return out

    def unattributed(self, op: int, t0: float, t1: float) -> float:
        """Part of the op interval [t0, t1] that no span of the op covers."""
        ivs = sorted((s.start, s.end) for s in self.spans
                     if s.op == op and s.parent is None)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            a, b = max(a, t0), min(b, t1)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, (t1 - t0) - covered)


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks and summed task metrics from
    Spark's JSON event log (``spark.eventLog.enabled``)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "input_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0})

    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
                   if not f.startswith((".", "appstatus")))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    a = acc(group)
                    a["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        acc(stage_group[sid])["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    a = acc(group)
                    a["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    a["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    a["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}) \
                        .get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return out
