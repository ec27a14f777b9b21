"""Layer spans recorded from outside the engine.

`Tracer.install()` replaces the public functions of each engine layer
with timing wrappers. Because several modules bind these functions by
name (`from ...tables import load_table`, bare `connected_components` in
queries.py), every module attribute that *is* the original function is
swapped, not just the defining module's. run.py then checks the call
counts each workload predicts, so a binding the wrapper missed reads as
a failed check instead of a silent zero.

Each span sets its own Spark job group, so the jobs a layer launches are
attributed to its innermost span. After the run, `group_metrics()` maps
job groups to stages and sums task metrics from the status store.
"""

from __future__ import annotations

import itertools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

# (layer name, module path, attribute) — one span per call.
LAYER_FUNCTIONS = [
    ("tables.load", "homemade_vector_db_spark.sources.tables", "load_table"),
    ("dedup.cc", "homemade_vector_db_spark.operators.dedup", "connected_components"),
    ("bm25.stats_build", "homemade_vector_db_spark.operators.bm25", "build_bm25_stats"),
    ("bm25.query", "homemade_vector_db_spark.operators.bm25", "query_text"),
    ("nsw.build", "homemade_vector_db_spark.operators.nsw", "build_nsw"),
    ("nsw.search", "homemade_vector_db_spark.operators.nsw", "nsw_search"),
    ("nsw.add", "homemade_vector_db_spark.operators.nsw", "nsw_add"),
    ("hybrid", "homemade_vector_db_spark.operators.hybrid", "hybrid_search"),
]
DB_METHODS = ["add", "query_text", "query_vector", "query_metadata", "hybrid_search"]


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    children: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._undo: list[tuple[object, str, object]] = []

    # -------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, own_group: bool = True):
        if not self.enabled:
            yield
            return
        sid = self._enter(name, own_group)
        try:
            yield
        finally:
            self._exit(sid)

    def _enter(self, name: str, own_group: bool) -> int:
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(name, parent, 0.0)
        if own_group:
            sp.group = f"pb{next(self._ids)}"
            self.spark.sparkContext.setJobGroup(sp.group, name)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        sp.start = time.perf_counter()
        return sid

    def _exit(self, sid: int) -> None:
        sp = self.spans[sid]
        sp.end = time.perf_counter()
        self._stack.pop()
        if sp.group is not None:
            outer = next(
                (self.spans[i].group for i in reversed(self._stack) if self.spans[i].group),
                None,
            )
            sc = self.spark.sparkContext
            if outer is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(outer, self.spans[self._stack[-1]].name)

    # ------------------------------------------------------------ install
    def _wrap(self, name: str, fn, own_group: bool = True):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name, own_group):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every layer function wherever the engine's modules bind it."""
        if not self.enabled:
            return
        import importlib

        from homemade_vector_db_spark import db as dbmod

        importlib.import_module("homemade_vector_db_spark.queries")
        for _, modpath, _ in LAYER_FUNCTIONS:
            importlib.import_module(modpath)
        engine_modules = [
            m for k, m in list(sys.modules.items())
            if m is not None and (k.startswith("homemade_vector_db_spark") or k == "__spark_entry__")
        ]
        for name, modpath, attr in LAYER_FUNCTIONS:
            original = getattr(importlib.import_module(modpath), attr)
            wrapper = self._wrap(name, original)
            for mod in engine_modules:
                for key, val in list(vars(mod).items()):
                    if val is original:
                        self._patch(mod, key, wrapper)
        for meth in DB_METHODS:
            self._patch(
                dbmod.VectorDatabase, meth,
                self._wrap(f"db.{meth}", getattr(dbmod.VectorDatabase, meth)),
            )
        self._patch(ClassicDataFrame, "collect", self._traced_collect(ClassicDataFrame.collect))

    def _traced_collect(self, collect):
        tracer = self

        def traced(df, *args, **kwargs):
            with tracer.span("spark.plan", own_group=False):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.collect", own_group=False):
                return collect(df, *args, **kwargs)

        return traced

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, val = self._undo.pop()
            setattr(owner, attr, val)

    # ------------------------------------------------------------ queries
    def totals(self, prefix: str, window: tuple[float, float] | None = None):
        """(calls, seconds) of spans named `prefix`, optionally only those
        starting inside `window`."""
        sel = [s for s in self.spans if s.name == prefix and _inside(s, window)]
        return len(sel), sum(s.seconds for s in sel)

    def self_seconds(self, name: str, window=None) -> float:
        """Summed self time: span duration minus the time its child spans cover."""
        tot = 0.0
        for s in self.spans:
            if s.name == name and _inside(s, window):
                tot += s.seconds - sum(self.spans[c].seconds for c in s.children)
        return tot

    def subtree_groups(self, sid: int) -> list[str]:
        out, todo = [], [sid]
        while todo:
            s = self.spans[todo.pop()]
            if s.group:
                out.append(s.group)
            todo.extend(s.children)
        return out

    def has_descendant(self, sid: int, name: str) -> bool:
        todo = list(self.spans[sid].children)
        while todo:
            s = self.spans[todo.pop()]
            if s.name == name:
                return True
            todo.extend(s.children)
        return False


def _inside(span: Span, window) -> bool:
    return window is None or window[0] <= span.start < window[1]


# ------------------------------------------------------------ status store
def stage_table(spark) -> dict[int, dict]:
    """Per-stage task metrics from the status store (works with the UI off).

    py4j cannot fill Scala default arguments, so the full Spark 4.1
    `stageList(statuses, details, withSummaries, quantiles, taskStatus)`
    signature is spelled out."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out = {}
    it = stages.iterator()  # a Scala Seq
    while it.hasNext():
        st = it.next()
        if str(st.status()) == "SKIPPED":
            continue
        out[int(st.stageId())] = {
            "tasks": int(st.numCompleteTasks()) + int(st.numFailedTasks()),
            "run_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "shuffle_write_mb": st.shuffleWriteBytes() / 2**20,
            "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20,
        }
    return out


def group_metrics(spark, groups: list[str], stages: dict[int, dict]) -> dict:
    """Jobs, stages and summed task metrics launched under `groups`."""
    tracker = spark.sparkContext.statusTracker()
    acc = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            acc["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = stages.get(int(sid))
                if st is None:
                    continue
                acc["stages"] += 1
                for k in ("tasks", "run_s", "cpu_s", "shuffle_write_mb", "spill_mb"):
                    acc[k] += st[k]
    return acc
