"""Spans, layer self times and the outside-in Spark counter collector.

Spans are recorded by the benchmark around its calls into each layer of
the engine; nothing inside the package is instrumented.  A span's layer
is the part of its name before the first dot (``registry.build`` belongs
to ``registry``).  Spark work appears as ``spark.exec`` spans: the union
of the job intervals the status store reports for one python-side span,
so concurrent jobs are never counted twice.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# --------------------------------------------------------------------------
# Interval arithmetic and self time
# --------------------------------------------------------------------------


def merge(intervals) -> list[tuple[float, float]]:
    """Union of ``(start, end)`` intervals as sorted disjoint intervals."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    return sum(
        max(0.0, min(e, hi) - max(s, lo)) for s, e in merge(intervals)
    )


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, the clock Spark's status store uses
    end: float
    parent: int | None = None
    call: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval its child spans cover, summed over the layer's spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - covered(children.get(s.id, ()), s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            call: str | None = None, **attrs) -> Span | None:
        if not self.enabled:
            return None
        span = Span(next(self._ids), name, start, end, parent, call, attrs)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, call: str | None = None, **attrs):
        """Time the block as a child of the innermost open span."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(next(self._ids), name, time.time(), 0.0,
                    parent.id if parent else None,
                    call if call is not None else (parent.call if parent else None),
                    attrs)
        self._stack.append(span)
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()
            self.spans.append(span)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


# --------------------------------------------------------------------------
# Spark counters, read from outside through the status stores
# --------------------------------------------------------------------------

STAGE_FIELDS = {
    # StageData accessor -> (metric, scale to seconds/bytes)
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "executorDeserializeTime": ("spark.deserialize_s", 1e-3),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "inputBytes": ("spark.input_bytes", 1),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1),
    "memoryBytesSpilled": ("spark.spill_bytes", 1),
    "diskBytesSpilled": ("spark.spill_bytes", 1),
}

# Executed-plan nodes that cross the Arrow/pandas boundary.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "FlatMapGroupsInPandasWithState",
)

# Metric display names on those nodes (the row count is the node's own
# output, i.e. rows returned from the Python workers).
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "number of output rows": "python.rows_received",
}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TOTAL = re.compile(r"^\s*(?:total[^\n]*\n)?\s*([0-9][0-9,.]*)\s*([KMGT]?i?B)?")


def parse_metric(text: str) -> float:
    """The total of a rendered SQL metric (``"1,234"`` or
    ``"total (min, med, max ...)\\n12.5 MiB (...)"``)."""
    m = _TOTAL.match(text or "")
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "B", 1)


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(jvm, s) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(s))


class SparkCounters:
    """Per-call Spark counters for the jobs of a set of job groups."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.mark()

    def mark(self) -> None:
        """Forget SQL executions so far; ``python_metrics`` reads newer ones."""
        n = int(self._sql.executionsCount())
        self._last_execution = (
            int(_seq(self.jvm, self._sql.executionsList(n - 1, 1))[-1].executionId())
            if n else -1
        )

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str, lo: float, hi: float) -> tuple[list[tuple[float, float]], dict]:
        """Job intervals (epoch s) and summed stage counters of ``group``.

        Only stages submitted inside ``[lo, hi]`` count, so a shuffle
        stage reused (skipped) from an earlier call is not counted again.
        """
        out: dict[str, float] = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
                                 "spark.max_stage_tasks": 0}
        for metric, _ in STAGE_FIELDS.values():
            out[metric] = 0
        intervals = []
        seen: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(int(jid))
            sub, comp = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is None or comp is None:
                continue
            intervals.append((sub.getTime() / 1e3, comp.getTime() / 1e3))
            out["spark.jobs"] += 1
            for sid in _seq(self.jvm, job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(int(sid))
                ssub = _opt(st.submissionTime())
                if ssub is None or str(st.status()) == "SKIPPED":
                    continue
                if not (lo - 1.0 <= ssub.getTime() / 1e3 <= hi + 1.0):
                    continue
                n = int(st.numCompleteTasks())
                out["spark.stages"] += 1
                out["spark.tasks"] += n
                out["spark.max_stage_tasks"] = max(out["spark.max_stage_tasks"], n)
                for accessor, (metric, scale) in STAGE_FIELDS.items():
                    out[metric] += getattr(st, accessor)() * scale
        return intervals, out

    def python_metrics(self) -> dict:
        """Python-boundary node metrics of the SQL executions newer than
        the last one this collector has seen."""
        out = {m: 0.0 for m in PYTHON_METRICS.values()}
        n = int(self._sql.executionsCount())
        if n == 0:
            return out
        tail = _seq(self.jvm, self._sql.executionsList(max(0, n - 256), min(n, 256)))
        fresh = [e for e in tail if int(e.executionId()) > self._last_execution]
        for e in fresh:
            eid = int(e.executionId())
            values = self._sql.executionMetrics(eid)
            for node in _seq(self.jvm, self._sql.planGraph(eid).allNodes()):
                if not any(node.name().startswith(p) for p in PYTHON_NODES):
                    continue
                for m in _seq(self.jvm, node.metrics()):
                    key = PYTHON_METRICS.get(m.name())
                    text = _opt(values.get(m.accumulatorId()))
                    if key and text:
                        out[key] += parse_metric(text)
        if tail:
            self._last_execution = max(self._last_execution, int(tail[-1].executionId()))
        return out

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def clear_persisted(self) -> None:
        """Unpersist every persisted RDD (checkpoint/persist residue)."""
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
