"""Spans around the engine's layer boundaries, recorded from outside the
engine.

``Tracer.wrap`` returns a wrapper that records one span per call (layer,
function, start, end, parent span, op id) and runs the call under a Spark
job group of its own, so every job the call fires is attributed to the
innermost span that was open when it ran. ``install_daily`` and
``install_tables`` swap the wrappers into the module namespaces that call
each layer; ``Tracer.uninstall`` puts the originals back. Spans stay in
memory until the run reports.

Job and stage metrics are read from the driver's status store through the
classic (py4j) session; under Spark Connect there is no ``_jsc`` and the
Spark-side figures are reported as unavailable.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field

ENGINE = "etl_data_peri_institute_spark"


@dataclass
class Span:
    sid: int
    layer: str
    fn: str
    op: int
    parent: int | None
    start: float = 0.0
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.sid] = (s.end - s.start) - covered
    return out


@dataclass
class JobStats:
    """Spark work attributed to one job group."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    shuffle_write: int = 0
    spill: int = 0
    output_bytes: int = 0

    def add(self, other: "JobStats") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


class SparkProbe:
    """Reads job and stage data for job groups from the status store."""

    def __init__(self, spark):
        try:
            self.sc = spark.sparkContext  # Spark Connect raises here
        except (AttributeError, NotImplementedError):
            self.sc = None
        jsc = getattr(self.sc, "_jsc", None)
        self.available = jsc is not None
        self._store = jsc.sc().statusStore() if self.available else None

    def set_group(self, group: str | None, label: str = "") -> None:
        """Run the calling thread's next jobs under ``group`` (None: no group)."""
        if not self.available:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, label)

    def drain(self) -> None:
        """Wait until the listener bus has applied every finished job."""
        if self.available:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group_stats(self, group: str) -> JobStats:
        out = JobStats()
        if not self.available:
            return out
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            out.jobs += 1
            sids = self._store.job(jid).stageIds()
            for i in range(sids.size()):
                st = self._store.lastStageAttempt(sids.apply(i))
                out.tasks += st.numCompleteTasks() + st.numFailedTasks()
                out.failed_tasks += st.numFailedTasks()
                out.run_ms += st.executorRunTime()
                out.shuffle_write += st.shuffleWriteBytes()
                out.spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out.output_bytes += st.outputBytes()
        return out


def catalyst_ms(df) -> float | None:
    """Sum of the QueryPlanningTracker phases of ``df`` (classic only)."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return None
    it = jdf.queryExecution().tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


@dataclass
class Tracer:
    probe: SparkProbe
    spans: list[Span] = field(default_factory=list)
    stats: dict[int, JobStats] = field(default_factory=dict)
    overhead_s: float = 0.0
    op: int = -1
    _stack: list[Span] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def call(self, layer: str, fn, *args, **kwargs):
        return self.wrap(layer, fn)(*args, **kwargs)

    def wrap(self, layer: str, fn):
        name = getattr(fn, "__qualname__", repr(fn))

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            parent = self._stack[-1] if self._stack else None
            span = Span(len(self.spans), layer, name, self.op,
                        parent.sid if parent else None)
            self.spans.append(span)
            self._stack.append(span)
            self.probe.set_group(span.group, f"{layer}:{name}")
            span.start = time.perf_counter()
            self.overhead_s += span.start - t0
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                self._stack.pop()
                if parent is None:
                    self.probe.set_group(None)
                else:
                    self.probe.set_group(parent.group, f"{parent.layer}:{parent.fn}")
                self.overhead_s += time.perf_counter() - span.end

        return traced

    def collect_op(self, op: int) -> None:
        """Attribute the Spark jobs of op ``op``'s spans (call once the op
        has ended, before the status store drops old jobs)."""
        t0 = time.perf_counter()
        self.probe.drain()
        for s in self.spans:
            if s.op == op:
                self.stats[s.sid] = self.probe.group_stats(s.group)
        self.overhead_s += time.perf_counter() - t0

    # ---- swapping wrappers into the engine's namespaces ---------------

    def patch(self, owner, attr: str, layer: str) -> None:
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(layer, original))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)


def install_daily(tracer: Tracer) -> None:
    """Wrap the daily pipeline's layers where ``pipeline`` and
    ``transforms`` look them up (both import the names directly)."""
    from etl_data_peri_institute_spark import pipeline, sinks, transforms

    tracer.patch(pipeline, "grid_to_df", "sources.grid")
    for name in ("transform_cursos", "transform_estudiantes", "transform_matriculas",
                 "transform_pagos_primera_cuota", "transform_regular_pagos"):
        tracer.patch(pipeline, name, "transforms")
    for name in ("dedupe_keep_last", "fk_split", "assert_pk_absent",
                 "required_not_null_split"):
        tracer.patch(pipeline, name, "operators.integrity")
    tracer.patch(transforms, "dedupe_keep_last", "operators.integrity")
    tracer.patch(pipeline, "audit_csv", "sinks")
    for name in ("upsert", "insert", "read"):
        tracer.patch(sinks.ParquetStore, name, "sinks")


def install_tables(tracer: Tracer) -> None:
    """Wrap ``load_table`` in every engine module that imported it by
    name (the plan modules do)."""
    import sys

    from etl_data_peri_institute_spark.sources import tables

    original = tables.load_table
    for modname, mod in list(sys.modules.items()):
        if modname.startswith(ENGINE) and getattr(mod, "load_table", None) is original:
            tracer.patch(mod, "load_table", "sources.tables")
