"""Spans and layer counters for the traced benchmark run.

Nothing here runs inside the engine. Spans are recorded around the
benchmark's own calls into the engine's public functions, and the
layer counters are read from outside the program: Spark's SQL status
store (per-node SQL metrics of each execution), the application status
store (per-stage task metrics) and ``StreamingQueryProgress``.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from collections import defaultdict

# SQL plan-node metric name -> per-layer counter it feeds
SQL_METRICS = {
    "time to run Python workers": "python.udf_task_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "number of files read": "scan.files_read",
    "duration": "codegen.task_s",  # WholeStageCodegen self time, task-summed
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40,
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric value.

    Spark formats a multi-task metric as ``total (min, med, max ...)``
    followed by a newline and the figures; the total is the first figure
    of the second line. Times come back in seconds, sizes in bytes and
    counts as plain numbers.
    """
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


# status-store retention high enough that no execution, job or stage of
# a run is evicted before it is read
RETAIN_CONF = {
    "spark.sql.ui.retainedExecutions": "100000",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


class SparkLayers:
    """Reads per-execution layer counters from Spark's status stores."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc.statusStore()

    def settle(self) -> None:
        """Wait until every listener event already posted is applied."""
        self._sc.listenerBus().waitUntilEmpty()

    def executions(self) -> int:
        """Number of SQL executions so far (the session retains them all,
        see ``RETAIN_CONF``); a marker for :meth:`counters`."""
        self.settle()
        return self._sql.executionsCount()

    def counters(self, mark: int) -> dict:
        """Layer counters summed over the SQL executions after ``mark``
        (the store lists executions in id order, i.e. submission order)."""
        self.settle()
        out = defaultdict(float)
        stages = set()
        for e in _seq(self._sql.executionsList(mark, 1 << 30)):
            out["sql_execs"] += 1
            values = self._sql.executionMetrics(e.executionId())
            seen = set()
            for m in _seq(e.metrics()):
                name, acc = m.name(), m.accumulatorId()
                if name not in SQL_METRICS or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[SQL_METRICS[name]] += parse_metric(v.get())
            jobs = e.jobs().keys().iterator()
            while jobs.hasNext():
                ids = self._app.job(jobs.next()).stageIds()
                stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in stages:
            try:
                st = self._app.lastStageAttempt(sid)
            except Exception:  # skipped stage: never ran, nothing to add
                continue
            out["tasks.run_s"] += st.executorRunTime() / 1e3
            out["tasks.cpu_s"] += st.executorCpuTime() / 1e9
            out["tasks.gc_s"] += st.jvmGcTime() / 1e3
            out["scan.bytes_read"] += st.inputBytes()
            out["shuffle.bytes_written"] += st.shuffleWriteBytes()
            out["shuffle.records_written"] += st.shuffleWriteRecords()
        return dict(out)


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    reads no counters, so the untraced run pays only a context manager.
    Each span keeps the bookkeeping time it added (``overhead``): the
    status-store reads sit outside its own start/end but inside its
    parent's, so a traced pass is slower than an untraced one by the sum
    of the overheads of the spans inside it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.layers: SparkLayers | None = None
        self._stack: list[int] = []

    def attach(self, spark) -> None:
        if self.enabled:
            self.layers = SparkLayers(spark)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span; with ``sql=True`` also record the SQL
        executions it triggered and their layer counters."""
        if not self.enabled:
            yield {}
            return
        t = time.perf_counter()
        sql = attrs.pop("sql", False) and self.layers is not None
        before = self.layers.executions() if sql else None
        rec = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
               "name": name, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["overhead"] = time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            t = time.perf_counter()
            if sql:
                rec["counters"] = self.layers.counters(before)
            rec["overhead"] += time.perf_counter() - t

    def wrap(self, module, attr: str, span_name: str, sql: bool = False):
        """Replace ``module.attr`` with a spanned wrapper (traced run only);
        returns an undo callable."""
        original = getattr(module, attr)
        if not self.enabled:
            return lambda: None

        def spanned(*args, **kwargs):
            with self.span(span_name, sql=sql):
                return original(*args, **kwargs)

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, original)

    def dump(self, path: str, **extra) -> None:
        """Write the spans, times relative to the first span's start."""
        t0 = min((s["start"] for s in self.spans if "start" in s), default=0.0)
        rows = [dict(s, start=s.get("start", t0) - t0, end=s.get("end", t0) - t0)
                for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f)
