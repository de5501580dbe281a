"""Spans and engine counters, recorded from outside the package.

A `Tracer` keeps spans in memory (name, start, end, parent, request id),
derives each layer's self time from them at the end of the run and
writes them out.
`instrument` wraps the package's public functions that the workloads
reach only indirectly (the entity transforms and ``common.docs`` inside
``build_payload``, ``catalog.load_table`` inside the plans) by replacing
the module-level names that refer to them; the workloads put spans
around every call they make directly.

Tracing is per thread: a wrapped function records a span only while its
thread runs a traced operation, so set-up and checks record nothing.

Engine counters come from the SparkContext status tracker and status
store: each traced operation runs under its own job group, and the jobs,
stages, tasks and stage metrics of that group are summed afterwards.
"""

from __future__ import annotations

import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

ENTITY_MODULES = {
    "members": "g1_etl_spark.entities.members",
    "employees": "g1_etl_spark.entities.employees",
    "products": "g1_etl_spark.entities.menu_items",
    "vendors": "g1_etl_spark.entities.vendors",
    "physicians": "g1_etl_spark.entities.physicians",
    "settings": "g1_etl_spark.entities.settings",
}

@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float
    rid: str | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, spark_context):
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0  # time spent reading counters
        self._sc = spark_context
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- switching ---------------------------------------------------------
    def active(self) -> bool:
        return getattr(self._local, "rid", None) is not None

    @contextmanager
    def operation(self, rid: str, traced: bool):
        """Root of one operation: a span named ``op`` under job group
        `rid`, whose Spark counters are read when it ends."""
        if not traced:
            yield
            return
        self._local.rid = rid
        self._local.stack = []
        self._sc.setJobGroup(rid, rid)
        try:
            with self.span("op"):
                yield
        finally:
            self._local.rid = None
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.read_spark_counters(rid)

    @contextmanager
    def span(self, name: str):
        if not self.active():
            yield
            return
        stack = self._local.stack
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, name, start, end,
                                       self._local.rid))

    def count(self, key: str, n: float) -> None:
        with self._lock:
            self.counters[key] += n

    def note_entity(self, entity: str) -> None:
        self._local.entity = entity

    def current_entity(self) -> str:
        return getattr(self._local, "entity", "unknown")

    # -- engine counters ---------------------------------------------------
    def read_spark_counters(self, group: str) -> None:
        """Add the jobs/stages/tasks and stage metrics of job `group`."""
        t0 = time.perf_counter()
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        c = defaultdict(float)
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            c["jobs"] += 1
            for stage_id in info.stageIds:
                sd = store.lastStageAttempt(stage_id)
                if str(sd.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["task_run_s"] += sd.executorRunTime() / 1000
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["input_bytes"] += sd.inputBytes()
                c["input_records"] += sd.inputRecords()
        with self._lock:
            for k, v in c.items():
                self.counters[k] += v
            self.overhead_s += time.perf_counter() - t0

    # -- derived figures ---------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Self time per layer: span duration minus its children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out = defaultdict(float)
        for s in self.spans:
            out[s.layer] += (s.end - s.start) - child[s.sid]
        return dict(out)

    def durations(self) -> dict[str, float]:
        """Summed duration per span name."""
        out = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.end - s.start
        return dict(out)

    def write(self, path: str) -> None:
        """Write the spans out, one JSON object per line."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(vars(s)) + "\n")

    def uncovered_share(self) -> float:
        """Share of the operations' wall time that no child span covers."""
        roots = [s for s in self.spans if s.name == "op"]
        total = sum(s.end - s.start for s in roots)
        if not total:
            return 0.0
        return self.self_times().get("op", 0.0) / total


def _replace_everywhere(original, wrapper) -> None:
    """Point every g1_etl_spark module-level name bound to `original`
    at `wrapper`."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("g1_etl_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, wrapper)


def instrument(tracer: Tracer) -> None:
    """Wrap the entity transforms, ``common.docs`` and
    ``catalog.load_table`` wherever the package refers to them."""
    import importlib

    from g1_etl_spark import catalog
    from g1_etl_spark.entities import common

    for entity, module in ENTITY_MODULES.items():
        mod = importlib.import_module(module)
        original = mod.transform

        def transform(*args, _orig=original, _entity=entity, **kwargs):
            if not tracer.active():
                return _orig(*args, **kwargs)
            tracer.note_entity(_entity)
            with tracer.span(f"entities.{_entity}.transform"):
                return _orig(*args, **kwargs)

        _replace_everywhere(original, transform)

    docs = common.docs

    def traced_docs(*args, **kwargs):
        if not tracer.active():
            return docs(*args, **kwargs)
        entity = tracer.current_entity()
        with tracer.span(f"entities.{entity}.collect"):
            out = docs(*args, **kwargs)
        tracer.count(f"rows.{entity}", len(out))
        return out

    _replace_everywhere(docs, traced_docs)

    load_table = catalog.load_table

    def traced_load_table(*args, **kwargs):
        if not tracer.active():
            return load_table(*args, **kwargs)
        with tracer.span("catalog.load_table"):
            return load_table(*args, **kwargs)

    _replace_everywhere(load_table, traced_load_table)
