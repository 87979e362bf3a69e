"""In-memory span tracer and Spark-side counters for the traced run.

A span records its name, start, end, parent and op id. Spans are kept in a
list and summarized when the run ends; nothing is written while ops run.
The tracer can be switched on and off between ops, so a traced run can
interleave traced and untraced ops and report the tracing overhead.

Layer internals are reached by wrapping the public functions the layer
modules call (``instrument``); the engine itself is not modified.
"""

from __future__ import annotations

import functools
import resource
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = Span(name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.op)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        return self.spans[sid].dur - sum(c.dur for c in self.children(sid))

    def per_op_totals(self, name: str, ops: list[int]) -> list[float]:
        """Total duration of spans called ``name`` in each of ``ops``."""
        tot = {o: 0.0 for o in ops}
        for s in self.spans:
            if s.name == name and s.op in tot:
                tot[s.op] += s.dur
        return [tot[o] for o in ops]

    def per_op_self(self, name: str, ops: list[int]) -> list[float]:
        tot = {o: 0.0 for o in ops}
        for sid, s in enumerate(self.spans):
            if s.name == name and s.op in tot:
                tot[s.op] += self.self_time(sid)
        return [tot[o] for o in ops]


#: (module, attribute, span name) wrapped by ``instrument``: the calls
#: ``pipeline.run_pipeline`` makes into the operator and sink layers.
PIPELINE_CALLS = (
    ("bigdata_etl_elt_dashboard_spark.pipeline", "transform_sales", "operators.transforms.transform_sales"),
    ("bigdata_etl_elt_dashboard_spark.pipeline", "run_data_quality_checks", "operators.quality.run_data_quality_checks"),
    ("bigdata_etl_elt_dashboard_spark.pipeline", "fk_unresolved_counts", "operators.quality.fk_unresolved_counts"),
    ("bigdata_etl_elt_dashboard_spark.pipeline", "build_sales_warehouse", "pipeline.build_sales_warehouse"),
    ("bigdata_etl_elt_dashboard_spark.pipeline", "write_parquet", "sources.sinks.write_parquet"),
)


def instrument(tracer: Tracer) -> None:
    """Wrap the layer entry points listed in ``PIPELINE_CALLS``."""
    import importlib

    for mod_name, attr, span_name in PIPELINE_CALLS:
        mod = importlib.import_module(mod_name)
        setattr(mod, attr, tracer.wrap(getattr(mod, attr), span_name))


# ---------------------------------------------------------------------------
# Spark public status / plan APIs
# ---------------------------------------------------------------------------


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) launched under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
    return len(jobs), stages, tasks


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in analysis / optimization / planning for ``df``'s
    QueryExecution, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return _vm_hwm_mb(jvm_pid) + py
