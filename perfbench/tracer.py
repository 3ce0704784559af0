"""Span tracing around the program's layers, installed from outside.

``Tracer.install`` wraps the public functions of every layer module (and
the public methods of ``crud.GraphEngine``) in place, in the defining module
and in every module that imported them by name, so calls between layers are
recorded too. Each call becomes a span (layer, name, start, end, parent).

Spark job attribution: operators return lazy DataFrames, so work runs where
an action is taken. Every span sets its own Spark job group on entry and
restores its parent's on exit, so a span owns exactly the jobs submitted
while it was the innermost open span. When a span exits, once the listener
bus has drained, the jobs of its group are read together with their stage
ids; ``finish`` reads every group again (a job started asynchronously can
post its start event after its span has closed). Spark's status store
forgets old jobs (1,000 by default), so ``install`` raises its retention
before the session starts, and a job whose stages could no longer be read
is counted in ``lost_jobs`` rather than silently as zero stages. Per span,
``jobs`` and ``stages`` (skipped ones included) count everything Spark ran,
and ``actions`` counts the distinct root SQL executions those jobs belong
to (a job outside SQL is its own action). Adaptive query execution submits
query-stage jobs from its own threads, and on plans with many shuffles
(connected components) how many it submits varies by one or two from run
to run; the actions repeat exactly. The tracer times its own bookkeeping
(``overhead_s``).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import time

LAYERS = (
    "session", "catalog", "api", "crud", "storage", "functions.llm",
    "operators.filters", "operators.sorting", "operators.tags",
    "operators.vectors", "operators.graph", "operators.aggregates",
    "operators.dedup", "operators.text", "operators.sampling",
    "operators.packing", "operators.privacy", "plans.jobs", "plans.pipeline",
)
PACKAGE = "thewhisperdb_spark"
# keep every job, stage and SQL execution of a run in Spark's status store
RETENTION = ("spark.ui.retainedJobs", "spark.ui.retainedStages",
             "spark.sql.ui.retainedExecutions")


class Span:
    __slots__ = ("sid", "layer", "name", "parent", "start", "end",
                 "job_ids", "jobs", "stages", "actions", "child_s")

    def __init__(self, sid: int, layer: str, name: str, parent: "Span | None"):
        self.sid, self.layer, self.name, self.parent = sid, layer, name, parent
        self.start = self.end = 0.0
        self.job_ids: set[int] = set()
        self.jobs = self.stages = self.actions = 0
        self.child_s = 0.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.stage_counts: dict[int, int] = {}  # job id -> its stage count
        self.lost_jobs = 0
        self.overhead_s = 0.0

    # ---- spans -----------------------------------------------------------

    def _sc(self):
        from pyspark import SparkContext
        return SparkContext._active_spark_context

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"perfbench-{span.sid}"

    def open(self, layer: str, name: str) -> Span:
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), layer, name, parent)
        self.spans.append(span)
        self.stack.append(span)
        sc = self._sc()
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", self._group(span))
        t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        span.start = t1
        return span

    def close(self, span: Span) -> None:
        span.end = t0 = time.perf_counter()
        self.stack.pop()
        if span.parent is not None:
            span.parent.child_s += span.end - span.start
        sc = self._sc()
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", self._group(span.parent))
            self._collect(sc, span)
        self.overhead_s += time.perf_counter() - t0

    def _collect(self, sc, span: Span) -> None:
        """Add the span's group's jobs, and the stage count of each job not
        seen before."""
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        span.job_ids.update(tracker.getJobIdsForGroup(self._group(span)))
        for jid in span.job_ids - self.stage_counts.keys():
            info = tracker.getJobInfo(jid)
            if info is not None:
                self.stage_counts[jid] = len(info.stageIds)

    def finish(self) -> None:
        """Re-read every span's job group once all work has ended, then
        count each span's jobs, stages and actions. Runs after the measured
        work, so it is not part of the overhead."""
        from pyspark.sql import SparkSession

        sc = self._sc()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        store = SparkSession.getActiveSession()._jsparkSession.sharedState().statusStore()
        root_of = {}
        for e in conv.asJava(store.executionsList()):
            for jid in conv.asJava(e.jobs().keySet()):
                root_of[jid] = e.rootExecutionId()
        for span in self.spans:
            self._collect(sc, span)
            span.jobs = len(span.job_ids)
            span.stages = sum(self.stage_counts.get(j, 0) for j in span.job_ids)
            span.actions = len({root_of.get(j, ("job", j)) for j in span.job_ids})
        self.lost_jobs = len({j for s in self.spans for j in s.job_ids}
                             - self.stage_counts.keys())

    def wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        return traced

    # ---- installation ----------------------------------------------------

    def install(self) -> None:
        """Wrap every layer's public functions; call before any program
        function runs (``session.get_spark`` included), so that the status
        store retention also applies."""
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f"--conf {key}=1000000" for key in RETENTION] + ["pyspark-shell"])
        originals: dict[int, object] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                originals[id(fn)] = self.wrap(fn, layer, f"{layer}.{attr}")
        for mod in [m for n, m in sys.modules.items()
                    if n == PACKAGE or n.startswith(PACKAGE + ".")]:
            for attr, val in list(vars(mod).items()):
                if id(val) in originals and inspect.isfunction(val):
                    setattr(mod, attr, originals[id(val)])
        from thewhisperdb_spark.crud import GraphEngine
        for attr, raw in list(vars(GraphEngine).items()):
            if attr.startswith("_"):
                continue
            name = f"crud.GraphEngine.{attr}"
            if isinstance(raw, classmethod):
                setattr(GraphEngine, attr,
                        classmethod(self.wrap(raw.__func__, "crud", name)))
            elif inspect.isfunction(raw):
                setattr(GraphEngine, attr, self.wrap(raw, "crud", name))

    # ---- derived metrics -------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        """Per layer: calls and wall time of the spans entered from another
        layer (or from the bench), self time and Spark actions/jobs/stages
        of all its spans."""
        out: dict[str, float] = {}
        for layer in LAYERS:
            out.update({f"{layer}.calls": 0, f"{layer}.wall_ms": 0.0,
                        f"{layer}.self_ms": 0.0, f"{layer}.spark_actions": 0,
                        f"{layer}.spark_jobs": 0, f"{layer}.spark_stages": 0})
        for s in self.spans:
            if s.layer not in LAYERS:
                continue
            dur = s.end - s.start
            if s.parent is None or s.parent.layer != s.layer:
                out[f"{s.layer}.calls"] += 1
                out[f"{s.layer}.wall_ms"] += 1000.0 * dur
            out[f"{s.layer}.self_ms"] += 1000.0 * (dur - s.child_s)
            out[f"{s.layer}.spark_actions"] += s.actions
            out[f"{s.layer}.spark_jobs"] += s.jobs
            out[f"{s.layer}.spark_stages"] += s.stages
        return out

    def dump(self, path: str) -> None:
        """Write every span (times in seconds since the first span)."""
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [{"id": s.sid, "layer": s.layer, "name": s.name,
                 "parent": s.parent.sid if s.parent else None,
                 "start": s.start - t0, "end": s.end - t0,
                 "actions": s.actions, "jobs": s.jobs, "stages": s.stages}
                for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)

    def jobs_under(self, root: Span, layer: str | None = None) -> int:
        """Spark jobs owned by ``root`` and the spans nested in it, counting
        only spans of ``layer`` when one is given."""
        total, ids = 0, {root.sid}
        for s in self.spans[root.sid:]:
            if s.sid == root.sid or (s.parent is not None and s.parent.sid in ids):
                ids.add(s.sid)
                if layer is None or s.layer == layer:
                    total += s.jobs
        return total
