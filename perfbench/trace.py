"""Spans around calls into the engine's layers, and Spark's own counters.

Everything here observes the engine from outside:

- ``Tracer`` keeps spans in memory (name, layer, start, end, parent) and
  computes each layer's self time once the run is over;
- ``instrument`` wraps the public functions of the engine's layer
  modules at every module that binds them, so a call into ``catalog``,
  ``operators``, ``functions``, ``sources`` or ``versioned`` opens a
  span, and counts py4j round trips while a span is open;
- ``SparkStatus`` reads jobs, stages and task metrics from the
  application status store and GC totals from the JVM's MXBeans.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "dwh_with_dask_spark"

# module prefix -> layer name. Longest prefix wins, so the ETL plan
# module counts as ``plans`` (it is a plan builder) and every helper
# module under operators/ and functions/ as ``operators``.
LAYER_MODULES = {
    f"{PACKAGE}.catalog": "catalog",
    f"{PACKAGE}.operators": "operators",
    f"{PACKAGE}.functions": "operators",
    f"{PACKAGE}.sources": "sources",
    f"{PACKAGE}.versioned": "versioned",
    f"{PACKAGE}.plans.financial_etl": "plans",
}


def layer_of(module: str) -> str | None:
    best = None
    for prefix, layer in LAYER_MODULES.items():
        if (module == prefix or module.startswith(prefix + ".")) and (
            best is None or len(prefix) > len(best[0])
        ):
            best = (prefix, layer)
    return best[1] if best else None


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int | None
    end: float = 0.0
    py4j: int = 0
    wall_start: float = 0.0  # time.time(), to line up with Spark's job stamps


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a no-op."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        sp = Span(name, layer, time.perf_counter(), parent, wall_start=time.time())
        self.spans.append(sp)
        self.stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()

    def count_py4j(self) -> None:
        for i in self.stack:
            self.spans[i].py4j += 1

    def reset(self) -> None:
        self.spans, self.stack = [], []

    def self_times(self, key=lambda sp: sp.layer) -> dict[str, float]:
        """Per ``key`` (default: layer), the sum over its spans of their
        duration minus the part of it covered by their direct children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            own = (sp.end - sp.start) - union_length(children.get(i, []))
            k = key(sp)
            out[k] = out.get(k, 0.0) + own
        return out

    def wall_intervals(self, layer: str) -> list[tuple[float, float]]:
        return [(sp.wall_start, sp.wall_start + sp.end - sp.start)
                for sp in self.spans if sp.layer == layer]

    def outer_py4j(self, layer: str) -> int:
        """py4j round trips inside the outermost spans of ``layer``."""
        return sum(sp.py4j for sp in self.spans if sp.layer == layer and (
            sp.parent is None or self.spans[sp.parent].layer != layer))


def _wrap(fn, layer: str, tracer: Tracer):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(fn.__name__, layer):
            return fn(*args, **kwargs)

    wrapper.__perfbench_wrapped__ = fn
    return wrapper


def instrument(tracer: Tracer) -> None:
    """Wrap every public layer function at every binding site in the
    loaded engine modules, and count py4j round trips per open span."""
    wrapped: dict[int, object] = {}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            if attr.startswith("_") or not inspect.isfunction(val):
                continue
            if hasattr(val, "__perfbench_wrapped__"):
                continue
            layer = layer_of(getattr(val, "__module__", "") or "")
            if layer is None:
                continue
            if id(val) not in wrapped:
                wrapped[id(val)] = _wrap(val, layer, tracer)
            setattr(mod, attr, wrapped[id(val)])

    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command
    if not hasattr(send, "__perfbench_wrapped__"):
        def counting_send(self, *args, **kwargs):
            tracer.count_py4j()
            return send(self, *args, **kwargs)

        counting_send.__perfbench_wrapped__ = send
        GatewayClient.send_command = counting_send


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)
    submitted: list[float] = field(default_factory=list)  # wall seconds


class SparkStatus:
    """Reads the application status store (works with the UI off)."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.jvm = spark._jvm
        self.last_job = self._max_job_id()

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        self._drain()
        jobs = self.jsc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def new_jobs(self) -> JobStats:
        """Jobs that started since the previous call, with their stages."""
        self._drain()
        store = self.jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        out = JobStats()
        newest = self.last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break
            newest = max(newest, jid)
            out.jobs += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                s = sub.get().getTime() / 1000.0
                e = done.get().getTime() / 1000.0 if done.isDefined() else s
                out.intervals.append((s, e))
                out.submitted.append(s)
            sids = j.stageIds()
            for k in range(sids.size()):
                st = store.lastStageAttempt(sids.apply(k))
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.task_s += st.executorRunTime() / 1000.0
                out.shuffle_read_bytes += st.shuffleReadBytes()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self.last_job = newest
        return out

    def gc(self) -> tuple[float, int]:
        """JVM-wide (collection seconds, collection count) so far."""
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        secs, count = 0.0, 0
        for i in range(beans.size()):
            b = beans.get(i)
            secs += max(b.getCollectionTime(), 0) / 1000.0
            count += max(b.getCollectionCount(), 0)
        return secs, count


def planning_seconds(df) -> float:
    """Catalyst analysis + optimization + physical planning of ``df``,
    from Spark's QueryPlanningTracker (forces planning if not yet done)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0


# Per-function self times reported for the versioned layer.
VERSIONED_FUNCS = {
    "versioned_commit": "versioned.commit_s",
    "versioned_merge": "versioned.merge_s",
    "read_version": "versioned.read_plan_s",
}
SELF_TIME_LAYERS = {
    "catalog": "catalog.load_s",
    "plans": "plans.build_s",
    "operators": "operators.build_s",
    "sources": "sources.read_s",
}


class LayerTotals:
    """Sums of per-layer figures over the traced ops of one run."""

    def __init__(self):
        self.v: dict[str, float] = {}
        self.ops = 0

    def add(self, key: str, x: float) -> None:
        self.v[key] = self.v.get(key, 0.0) + x

    def add_op(self, tracer: Tracer, jobs: JobStats, wall: tuple[float, float],
               gc: tuple[tuple[float, int], tuple[float, int]], plan_s: float) -> None:
        """Fold one traced op in: ``wall`` is its (start, end) in
        ``time.time()`` seconds, ``gc`` the JVM GC totals before and after."""
        self.ops += 1
        mine = tracer.self_times()
        for layer, key in SELF_TIME_LAYERS.items():
            self.add(key, mine.get(layer, 0.0))
        by_fn = tracer.self_times(key=lambda sp: f"{sp.layer}.{sp.name}")
        for fn, key in VERSIONED_FUNCS.items():
            self.add(key, by_fn.get(f"versioned.{fn}", 0.0))
        # compaction as a whole, including the commit it publishes
        self.add("versioned.compact_s", sum(sp.end - sp.start for sp in tracer.spans
                                            if sp.name == "optimize_versioned"))
        self.add("catalyst.plan_s", plan_s)
        self.add("plans.py4j_calls", tracer.outer_py4j("plans"))
        catalog = tracer.wall_intervals("catalog")
        self.add("catalog.jobs", sum(any(s <= t <= e for s, e in catalog)
                                     for t in jobs.submitted))
        w0, w1 = wall
        busy = union_length([(max(s, w0), min(e, w1))
                             for s, e in jobs.intervals if e > w0 and s < w1])
        self.add("exec.wall_s", busy)
        self.add("exec.gap_s", max((w1 - w0) - busy, 0.0))
        self.add("exec.task_s", jobs.task_s)
        for k in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            self.add(f"exec.{k}", getattr(jobs, k))
        self.add("jvm.gc_s", gc[1][0] - gc[0][0])
        self.add("jvm.gc_count", gc[1][1] - gc[0][1])

    def per_op(self, cores: int) -> dict[str, float]:
        """Every figure per traced op, plus executor core utilisation."""
        n = max(self.ops, 1)
        out = {k: x / n for k, x in self.v.items()}
        out["exec.core_util"] = self.v.get("exec.task_s", 0.0) / max(
            self.v.get("exec.wall_s", 0.0) * cores, 1e-9)
        return out
