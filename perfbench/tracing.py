"""Spans recorded from outside the program, and Spark's own counters.

A ``Tracer`` keeps spans in memory: name, start, end, parent and the id
of the op that caused them.  Spans come from the benchmark's own calls
into a layer and from wrappers it installs on the package's public
functions for a traced run (``install_wrappers``); the package itself
is not modified.  Self time is a span's duration minus the part of its
interval that its children cover.

Spark-side layers are read after each op, outside its timed region:

- ``catalyst``: ``queryExecution().tracker().phases()`` of the
  DataFrame the op materialised;
- ``exec``: the jobs launched during the op and their stages, from
  ``statusStore().job`` and ``statusStore().lastStageAttempt``.  The
  per-layer numbers come from the single-client phase, so the jobs
  whose ids fall inside an op's window are exactly that op's jobs --
  including jobs the package submits from its own worker threads
  (``run_pipeline`` builds dims and fact on two threads), which a
  thread-local job group would miss.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    sid: int
    op: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (children may overlap when the program runs them on threads)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.dur - covered(children.get(s.sid, []), s.start, s.end) for s in spans}


class Tracer:
    """In-memory span recorder.  Inactive tracers record nothing."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.op = -1
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, **attrs) -> Span | None:
        if not self.active:
            return None
        stack = self._stack()
        # a span opened on a thread the program started has no parent
        # on that thread; it belongs to the op's root span
        parent = stack[-1] if stack else self._root
        with self._lock:
            span = Span(len(self.spans), self.op, name, time.perf_counter(), parent=parent, attrs=attrs)
            self.spans.append(span)
        stack.append(span.sid)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == span.sid:
            stack.pop()

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def start_op(self, name: str) -> Span | None:
        self.op += 1
        span = self.begin(name)
        self._root = span.sid if span else None
        return span

    def end_op(self, span: Span | None) -> None:
        self.end(span)
        self._root = None

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span | None:
        self.span = self.tracer.begin(self.name, **self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer.end(self.span)


def traced(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the package's public entry points of the ``sources`` and
    ``plans`` layers so that calls the program makes internally (e.g.
    ``run_pipeline`` -> ``build_fact`` -> ``TableStore.save``) record
    spans.  Every module-level reference to a wrapped function is
    replaced, because callers import them by name."""
    import sys

    import gaming_ai_analytics_spark.plans.pipeline as pipeline
    import gaming_ai_analytics_spark.sources.star as star
    from gaming_ai_analytics_spark.plans.metric_view import MetricView
    from gaming_ai_analytics_spark.sources.io import TableStore

    wrapped = {
        star.load_table: traced(tracer, "sources.load", star.load_table),
        pipeline.build_dims: traced(tracer, "plans.build_dims", pipeline.build_dims),
        pipeline.build_fact: traced(tracer, "plans.build_fact", pipeline.build_fact),
        pipeline.run_quality: traced(tracer, "plans.run_quality", pipeline.run_quality),
        pipeline.build_metric_layer: traced(
            tracer, "plans.build_metric_layer", pipeline.build_metric_layer
        ),
    }
    by_id = {id(fn): wrapper for fn, wrapper in wrapped.items()}
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("gaming_ai_analytics_spark"):
            for attr, val in list(vars(mod).items()):
                if id(val) in by_id:
                    setattr(mod, attr, by_id[id(val)])

    MetricView.query = traced(tracer, "plans.metric_view_query", MetricView.query)
    TableStore.load = traced(tracer, "sources.load", TableStore.load)
    orig_save = TableStore.save

    @functools.wraps(orig_save)
    def save(self, layer, name, df, *args, **kwargs):
        if not tracer.active:
            return orig_save(self, layer, name, df, *args, **kwargs)
        path = self.path(layer, name)
        before = _dir_files(path)
        with tracer.span("sources.save") as span:
            out = orig_save(self, layer, name, df, *args, **kwargs)
        after = _dir_files(path)
        new = {p: n for p, n in after.items() if before.get(p) != n}
        span.attrs.update(files=len(new), bytes=sum(new.values()))
        return out

    TableStore.save = save


# --------------------------------------------------------------------------
# Spark-side counters
# --------------------------------------------------------------------------
def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` -> epoch ms (None if empty)."""
    return float(opt.get().getTime()) if opt.isDefined() else None


class SparkCounters:
    """Reads Spark's status store through py4j."""

    STAGE_FIELDS = (
        "executorRunTime",
        "shuffleReadBytes",
        "shuffleWriteBytes",
        "memoryBytesSpilled",
        "diskBytesSpilled",
        "inputBytes",
        "outputBytes",
        "outputRecords",
        "numTasks",
        "numFailedTasks",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()

    def max_job_id(self) -> int:
        ids = self.tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def jobs_after(self, job_id: int) -> list[dict]:
        """Every job with an id above ``job_id``, with its stages."""
        out = []
        for jid in sorted(j for j in self.tracker.getJobIdsForGroup(None) if j > job_id):
            jd = self.store.job(jid)
            stage_ids = [int(jd.stageIds().apply(i)) for i in range(jd.stageIds().size())]
            stages = []
            for sid in stage_ids:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError as ex:
                    if "NoSuchElement" not in str(ex):
                        raise
                    continue  # never attempted
                if str(sd.status()) == "SKIPPED":
                    continue  # its shuffle output was reused
                stages.append({f: float(getattr(sd, f)()) for f in self.STAGE_FIELDS})
            out.append(
                {
                    "id": jid,
                    "submit_ms": _opt_ms(jd.submissionTime()),
                    "end_ms": _opt_ms(jd.completionTime()),
                    "stages": stages,
                }
            )
        return out


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded on ``df``'s query execution.
    A DataFrame written through a sink is planned inside the write
    command's own execution, so only its analysis shows here."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out
