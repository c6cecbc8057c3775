"""Tracing for the benchmark's traced run: driver spans, Spark job counts
and the SQL metrics of an executed plan.

Everything here is timed from outside the engine: spans wrap calls into
the engine's public functions, and plan metrics are read back from the
executed plan after a call. Nothing in this module runs when tracing is
off.
"""

from __future__ import annotations

import contextlib
import itertools
import time


class Tracer:
    """In-memory spans: name, start, end, parent span index and call id.
    Spans of one timed call share its call id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.call_id: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "call": self.call_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, call: int | None = None) -> float:
        """Summed duration of the spans called ``name`` (of one call)."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (call is None or s["call"] == call)
        )


@contextlib.contextmanager
def wrapped(tracer: Tracer, owner, attr: str, span_name: str):
    """Temporarily wrap ``owner.attr`` (a function or classmethod) so each
    call records a span; the original is restored on exit."""
    orig = owner.__dict__[attr]
    if isinstance(orig, classmethod):
        func = orig.__func__

        def call(cls, *a, **kw):
            with tracer.span(span_name):
                return func(cls, *a, **kw)

        repl = classmethod(call)
    else:

        def repl(*a, **kw):
            with tracer.span(span_name):
                return orig(*a, **kw)

    setattr(owner, attr, repl)
    try:
        yield
    finally:
        setattr(owner, attr, orig)


_GROUP_SEQ = itertools.count()


@contextlib.contextmanager
def job_group(spark, label: str):
    """Run the body under a fresh Spark job group; yields a one-element
    list that holds the number of jobs the body started once it exits."""
    sc = spark.sparkContext
    gid = f"perfbench-{label}-{next(_GROUP_SEQ)}"
    sc.setJobGroup(gid, label)
    out = [0]
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        out[0] = len(sc.statusTracker().getJobIdsForGroup(gid))


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _plan_nodes(node):
    """Every operator of an executed plan, descending into AQE query
    stages (adaptive plans hide the operators that ran behind them)."""
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(n.plan())
        stack.extend(_children(n))


# single-child operators between a Filter and the scan it reads
_PASS_THROUGH = {"ColumnarToRowExec", "InputAdapter", "WholeStageCodegenExec"}

_PYTHON_KEYS = {
    "pythonBootTime": "python.boot_ms",
    "pythonInitTime": "python.init_ms",
    "pythonTotalTime": "python.total_ms",
    "pythonDataSent": "python.bytes_sent",
    "pythonDataReceived": "python.bytes_received",
}


# the scan metrics cover the postings table only, not the dictionary
_SCANNED_TABLE = "postings.parquet"


def _is_postings_scan(node) -> bool:
    return node.getClass().getSimpleName().startswith("FileSourceScan") and (
        _SCANNED_TABLE in node.relation().location().rootPaths().toString()
    )


def plan_metrics(df) -> dict[str, float]:
    """SQL metrics of ``df``'s executed plan (call after it has run).

    Postings scans: files, bytes, rows returned by the reader and scan
    time; a Filter directly above a scan gives the rows it kept, so
    ``scan.rows_used`` / ``scan.rows`` is the share of scanned rows the
    query used. Exchange bytes are shuffle bytes written. Python metrics
    are summed over every Python operator and its tasks."""
    out = {k: 0 for k in (
        "scan.files", "scan.bytes", "scan.rows", "scan.time_ms",
        "scan.rows_used", "exchange.bytes", *_PYTHON_KEYS.values(),
    )}
    nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
    filtered: dict[int, int] = {}
    for n in nodes:
        cls = n.getClass().getSimpleName()
        if cls != "FilterExec":
            continue
        below = _children(n)
        while len(below) == 1 and (
            below[0].getClass().getSimpleName() in _PASS_THROUGH
        ):
            below = _children(below[0])
        if len(below) == 1 and _is_postings_scan(below[0]):
            filtered[below[0].id()] = _metrics(n).get("numOutputRows", 0)
    for n in nodes:
        cls = n.getClass().getSimpleName()
        m = _metrics(n)
        if _is_postings_scan(n):
            rows = m.get("numOutputRows", 0)
            out["scan.files"] += m.get("numFiles", 0)
            out["scan.bytes"] += m.get("filesSize", 0)
            out["scan.rows"] += rows
            out["scan.time_ms"] += m.get("scanTime", 0)
            out["scan.rows_used"] += filtered.get(n.id(), rows)
        elif cls == "ShuffleExchangeExec":
            out["exchange.bytes"] += m.get("shuffleBytesWritten", 0)
        for key, name in _PYTHON_KEYS.items():
            out[name] += m.get(key, 0)
    return out
