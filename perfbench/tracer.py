"""Out-of-process-style tracing for the traced benchmark run.

The tracer never edits the engine: it wraps the benchmark's own calls
into each module's public functions in spans, runs each span under a
Spark job group named ``<workload>.<query|layer>``, and afterwards reads

* Spark jobs / stages / tasks per span from ``statusTracker``;
* per-operator SQL metrics from each span's own executed plans (walked
  through AQE's query stages), collected only after an action on that
  very frame — a ``count()`` would plan a new query and lose them;
* ``localCheckpoint`` builds: while tracing, every checkpoint is built
  eagerly inside a ``checkpoint`` span, so its cost (otherwise hidden
  behind a ``Scan ExistingRDD``) lands on the call that paid for it.

Spans stay in memory; ``dump`` writes them out once the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

# Spark SQL operator metric -> per-layer metric; timings become seconds
_TIME_KINDS = {"timing": 1e-3, "nsTiming": 1e-9}
PLAN_METRICS = {
    "scanTime": "scan.time_s",
    "shuffleBytesWritten": "exchange.shuffle_bytes",
    "shuffleWriteTime": "exchange.shuffle_write_s",
    "spillSize": "exchange.spill_bytes",
    "buildTime": "broadcast.build_s",
    "collectTime": "broadcast.collect_s",
    "sortTime": "sortwindow.sort_s",
    "aggTime": "agg.time_s",
    "pipelineTime": "codegen.pipeline_s",
    "pythonBootTime": "python.boot_s",
    "pythonInitTime": "python.init_s",
    "pythonTotalTime": "python.total_s",
    "pythonNumRowsReceived": "python.rows",
}


class Span:
    __slots__ = ("name", "kind", "parent", "t0", "t1", "group", "jobs", "frames", "out")

    def __init__(self, name, kind, parent, group):
        self.name, self.kind, self.parent, self.group = name, kind, parent, group
        self.t0 = time.perf_counter()
        self.t1 = None
        self.jobs: set[int] = set()
        self.frames: list = []  # frames whose own executed plans this span ran
        self.out = None  # the materialized boundary frame, if any

    @property
    def seconds(self) -> float:
        return (self.t1 or time.perf_counter()) - self.t0


def plan_metrics(df) -> dict[str, float]:
    """Sum the tracked operator metrics over ``df``'s own executed plan."""
    out: dict[str, float] = defaultdict(float)
    seen: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # the reused exchange is counted where it ran
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            layer = PLAN_METRICS.get(kv._1())
            if layer is None or (layer.startswith("broadcast.") and cls != "BroadcastExchangeExec"):
                continue  # e.g. a shuffled hash join's own buildTime
            m = kv._2()
            v = max(m.value(), 0)
            out[layer] += v * _TIME_KINDS.get(m.metricType(), 1)
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out


class Tracer:
    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._orig_lcp = None

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "layer"):
        parent = self._stack[-1] if self._stack else None
        top = parent is None or parent.kind == "unit"
        group = f"{self.workload}.{name}" if top else parent.group
        sp = Span(name, kind, parent, group)
        if top:
            self.sc.setJobGroup(group, group)
            before = set(self.sc.statusTracker().getJobIdsForGroup(group))
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if top:
                after = set(self.sc.statusTracker().getJobIdsForGroup(group))
                sp.jobs = after - before
                outer = self._stack[-1].group if self._stack else None
                if outer:
                    self.sc.setJobGroup(outer, outer)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def materialize(self, df):
        """Pipeline boundary: build ``df`` eagerly on its own plan (so the
        span keeps that plan's metrics) and hand the next layer an
        already-materialized frame."""
        sp = self._stack[-1]
        sp.frames.append(df)
        sp.out = self._orig_lcp(df, eager=True)
        return sp.out

    # -- checkpoint attribution -------------------------------------------

    def __enter__(self):
        cls = type(self.spark.range(1))
        self._cls, self._orig_lcp = cls, cls.localCheckpoint
        tracer, orig = self, self._orig_lcp

        def local_checkpoint(df, eager=True, storageLevel=None):
            if not tracer._stack:
                return orig(df, eager, storageLevel)
            with tracer.span("checkpoint", kind="checkpoint") as sp:
                sp.frames.append(df)
                return orig(df, True, storageLevel)

        cls.localCheckpoint = local_checkpoint
        return self

    def __exit__(self, *exc):
        self._cls.localCheckpoint = self._orig_lcp
        self._orig_lcp = None

    # -- read-out -----------------------------------------------------------

    def job_counts(self, spans) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = set().union(*(s.jobs for s in spans)) if spans else set()
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"driver.jobs": len(jobs), "driver.stages": stages, "driver.tasks": tasks}

    def unit_spans(self, unit: Span) -> list[Span]:
        return [s for s in self.spans if s.parent is unit]

    def subtree(self, root: Span) -> list[Span]:
        out, frontier = [], [root]
        while frontier:
            cur = frontier.pop()
            out.append(cur)
            frontier.extend(s for s in self.spans if s.parent is cur)
        return out

    def plan_totals(self, spans) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            for df in s.frames:
                for k, v in plan_metrics(df).items():
                    out[k] += v
        return out

    def dump(self, path: str) -> None:
        """Write every span: id, parent, the unit it belongs to, name,
        kind, job group, start/end (seconds since the first span) and
        the Spark job ids it launched."""
        ids = {id(s): i for i, s in enumerate(self.spans)}
        base = self.spans[0].t0 if self.spans else 0.0

        def root(s):
            while s.parent is not None:
                s = s.parent
            return ids[id(s)]

        rows = [
            {
                "id": ids[id(s)],
                "parent": ids[id(s.parent)] if s.parent else None,
                "unit": root(s),
                "name": s.name,
                "kind": s.kind,
                "group": s.group,
                "start": round(s.t0 - base, 6),
                "end": round(s.t0 + s.seconds - base, 6),
                "jobs": sorted(s.jobs),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
