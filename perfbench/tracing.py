"""Tracing from outside the program: spans, Spark work counts and memory.

The tracer wraps the public functions of each ``dbt_glue_spark`` layer by
replacing module and class attributes; the program itself is not edited.
Each call records one span (name, layer, start, end, parent span, op id).
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass

_PKG = "dbt_glue_spark"


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root span
    op: int


class Tracer:
    """Records spans around layer entry points while ``active`` is true."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op = -1
        self._stack = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- recording --------------------------------------------------------
    def span(self, name: str, layer: str):
        """A span around a block of the benchmark's own code, when active."""
        return _SpanCtx(self, name, layer) if self.active else contextlib.nullcontext()

    def _wrap(self, fn, name: str, layer: str, label=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            full = f"{name}.{label(*args)}" if label else name
            with _SpanCtx(tracer, full, layer):
                return fn(*args, **kwargs)

        return traced

    # -- installation -----------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap_function(self, module, attr: str, layer: str) -> None:
        """Wrap ``module.attr`` and every program module that imported it by name."""
        orig = getattr(module, attr)
        traced = self._wrap(orig, f"{layer}.{attr}", layer)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(_PKG) and mod is not None:
                for name, value in list(vars(mod).items()):
                    if value is orig:
                        self._set(mod, name, traced)

    def wrap_methods(self, cls, names: list[str], layer: str) -> None:
        for attr in names:
            self._set(cls, attr, self._wrap(getattr(cls, attr), f"{layer}.{attr}", layer))

    def install(self) -> None:
        """Wrap the entry points of every measured layer."""
        from dbt_glue_spark import catalog, engine
        from dbt_glue_spark.quality import tests as dq
        from dbt_glue_spark.sources import registry

        for attr in ("load_table", "register_sources"):
            self.wrap_function(registry, attr, "sources")
        self.wrap_methods(engine.Engine, ["run", "test", "backfill", "history"], "engine")
        # one span name per materialization: engine.run_model.<kind>
        self._set(engine.Engine, "run_model", self._wrap(
            engine.Engine.run_model, "engine.run_model", "engine", label=_materialization))
        public = [n for n, v in vars(catalog.Catalog).items()
                  if callable(v) and not n.startswith("_")]
        self.wrap_methods(catalog.Catalog, public, "catalog")
        for attr in ("merge_upsert", "evolve"):
            self.wrap_function(engine, attr, "operators")
        for attr in ("scd2_apply", "infer_seed_df"):
            self.wrap_function(engine, attr, "materializations")
        for attr in ("unique", "not_null", "accepted_values", "relationships"):
            self.wrap_function(dq, attr, "quality")
        # every public operator of the extensions package
        ext_prefix = f"{_PKG}.extensions."
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(ext_prefix) or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if (callable(value) and not attr.startswith("_")
                        and getattr(value, "__module__", None) == mod_name
                        and not isinstance(value, type)):
                    self.wrap_function(mod, attr, "extensions")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    # -- analysis ---------------------------------------------------------
    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Seconds of self time per layer over the spans of ``ops``.

        A span's self time is its duration minus the part of it that its
        child spans cover (children of one thread never overlap)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0:
                child_s[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.op in ops:
                out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child_s[i]
        return out

    def total(self, ops: set[int], name: str) -> tuple[int, float]:
        """(calls, seconds) of spans named ``name`` within ``ops``."""
        hits = [s for s in self.spans if s.op in ops and s.name == name]
        return len(hits), sum(s.end - s.start for s in hits)

    def outer_total(self, ops: set[int], layer: str) -> tuple[int, float]:
        """(calls, seconds) of a layer, counting nested same-layer calls once
        for time but every call for the count."""
        calls, busy = 0, 0.0
        for s in self.spans:
            if s.op in ops and s.layer == layer:
                calls += 1
                if s.parent < 0 or self.spans[s.parent].layer != layer:
                    busy += s.end - s.start
        return calls, busy

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s.__dict__}) + "\n")


def _materialization(engine, model) -> str:
    cfg = model.config
    return cfg.incremental_strategy if cfg.materialized == "incremental" else cfg.materialized


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        stack = self.tracer._stack.__dict__.setdefault("ids", [])
        self.parent = stack[-1] if stack else -1
        self.start = time.perf_counter()
        self.idx = len(self.tracer.spans)
        self.tracer.spans.append(Span(self.name, self.layer, self.start, self.start,
                                      self.parent, self.tracer.op))
        stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.tracer.spans[self.idx].end = time.perf_counter()
        self.tracer._stack.ids.pop()
        return False


class SparkWork:
    """Jobs, stages and tasks of one op, read through ``statusTracker()``.

    Jobs are the set difference of ``getJobIdsForGroup(None)`` before and
    after the op, which also catches jobs submitted from pool threads that
    do not inherit a job group. The listener bus is drained first so the
    counts do not depend on event-delivery timing."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._before: set[int] = set()

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def begin(self) -> None:
        self._drain()
        self._before = set(self.tracker.getJobIdsForGroup(None))

    def end(self) -> dict[str, int]:
        self._drain()
        jobs = set(self.tracker.getJobIdsForGroup(None)) - self._before
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "tasks_failed": 0}
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                ran = st.numCompletedTasks + st.numFailedTasks if st else 0
                if ran:
                    out["stages"] += 1
                    out["tasks"] += ran
                    out["tasks_failed"] += st.numFailedTasks
        return {f"spark.{k}": v for k, v in out.items()}


class RssSampler:
    """Peak memory of this process and all its descendants.

    Covers the Spark JVM and the Python workers it forks; sampled from
    ``/proc`` on a background thread. Each process counts its proportional
    set size (resident pages, shared ones divided among their sharers), so
    a child forked by the JVM does not count the JVM's pages twice."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_parts_mb: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        parent: dict[int, int] = {}
        comm: dict[int, str] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    head, tail = fh.read().rsplit(")", 1)
            except OSError:
                continue
            parent[int(entry)] = int(tail.split()[1])
            comm[int(entry)] = head.split("(", 1)[1]
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for child, ppid in parent.items():
                if ppid == p and child not in tree:
                    tree.add(child)
                    frontier.append(child)
        pss = {p: self._pss(p) for p in tree}
        total = sum(pss.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            parts: dict[str, float] = {}
            for p, b in pss.items():
                parts[comm[p]] = parts.get(comm[p], 0.0) + b / 2**20
            self.peak_parts_mb = parts
