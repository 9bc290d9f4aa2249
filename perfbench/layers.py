"""The benchmark's metrics: names, units, and how a run's measurements
become them.

End-to-end metrics come from the untraced run. Per-layer metrics come
from the traced run; layers are named by engine module. Summed layer
counters are reported per measured pass, so runs of different lengths
compare. ``LAYER_MOVES`` records, before any change is measured, which
end-to-end metric each layer metric should move and on which workload.
"""

from __future__ import annotations

from statistics import median, quantiles

from perfbench.suites import SERIES

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "rows_per_s": ("rows/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

# span name -> per-layer time metric
_SPAN_TIMES = {
    "construct": "queries.construct_s",
    "action": "exec.action_s",
    "constraints.construct": "constraints.construct_s",
    "audit.checks": "audit.checks_s",
    "audit.append": "audit.append_s",
    "audit.committed": "audit.committed_s",
    "catalog.write": "catalog.write_s",
}
# counters read from Spark, summed over construct and action spans
_SPARK_COUNTERS = {
    "python.udf_task_s": "s", "python.bytes_sent": "B",
    "python.bytes_received": "B", "shuffle.bytes_written": "B",
    "shuffle.records_written": "count", "scan.files_read": "count",
    "scan.bytes_read": "B", "codegen.task_s": "s", "tasks.run_s": "s",
    "tasks.cpu_s": "s", "tasks.gc_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "queries.construct_s": "s", "queries.construct_sql_execs": "count",
    "exec.action_s": "s", "exec.sql_execs": "count",
    **_SPARK_COUNTERS,
    "stream.batches": "count", "stream.batch_ms_p50": "ms",
    "stream.batch_ms_p90": "ms", "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.state_rows": "count", "stream.state_bytes": "B",
    "catalog.write_s": "s",
    "constraints.construct_s": "s", "audit.checks_s": "s",
    "audit.append_s": "s", "audit.committed_s": "s",
    "audit.sql_execs": "count", "audit.bytes_written": "B",
    "audit.resume_s": "s",
    "trace.overhead_s": "s",
    **{f"query.{q}.{part}": "s" for q in SERIES
       for part in ("construct_s", "action_s")},
}

LAYER_MOVES = {
    "session.start_s": "setup_s on every workload",
    "queries.construct_s": "wall_s on series_suite (eager construction)",
    "queries.construct_sql_execs": "wall_s on series_suite",
    "exec.action_s": "wall_s and rows_per_s on series_suite (queries and "
                     "the production path)",
    "exec.sql_execs": "wall_s and rows_per_s on series_suite",
    "python.*": "wall_s on series_suite (sketches, operators); wall_s on "
                "stream_microbatch (stateful); ~0 in the production path",
    "shuffle.*": "wall_s on series_suite (alicante, integrity)",
    "scan.*": "wall_s on series_suite (alicante double scan; the "
              "production path's partition pruning)",
    "codegen.task_s, tasks.*": "every workload; shows contention and GC",
    "catalog.write_s": "wall_s on series_suite (the production path's "
                       "corpus write)",
    "constraints.*, audit.*": "wall_s and rows_per_s on series_suite (the "
                              "production path; audit.resume_s: its resume "
                              "pass)",
    "stream.*": "wall_s and rows_per_s on stream_microbatch",
    "query.<name>.*": "wall_s on series_suite",
    "trace.overhead_s": "none: status-store read time inside the traced "
                        "passes, a lower bound of what tracing adds",
}


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(m: dict) -> dict:
    wall = median(m["passes"])
    values = {"setup_s": median(m["setups"]), "wall_s": wall,
              "rows_per_s": m["rows"] / wall, "peak_rss_mb": m["peak_rss_mb"]}
    return {k: _metric(values[k], END_TO_END[k][0]) for k in END_TO_END}


def _stream_layers(batches: list[dict], n_passes: int) -> dict:
    if not batches:
        return {}
    dur = [b.get("durationMs", {}) for b in batches]
    trigger = [d.get("triggerExecution", 0) for d in dur]
    state = [op for b in batches for op in b.get("stateOperators") or []]
    return {
        "stream.batches": len(batches) / n_passes,
        "stream.batch_ms_p50": median(trigger),
        "stream.batch_ms_p90": quantiles(trigger, n=10, method="inclusive")[8]
        if len(trigger) > 1 else trigger[0],
        "stream.add_batch_ms": median(d.get("addBatch", 0) for d in dur),
        "stream.planning_ms": median(d.get("queryPlanning", 0) for d in dur),
        "stream.wal_commit_ms": median(d.get("walCommit", 0) for d in dur),
        "stream.state_rows": max((s.get("numRowsTotal", 0) for s in state),
                                 default=0),
        "stream.state_bytes": max((s.get("memoryUsedBytes", 0) for s in state),
                                  default=0),
    }


def assemble(m: dict, tracer) -> dict:
    """Per-layer metrics of a traced run; a layer the workload does not
    touch reads 0."""
    spans = tracer.spans
    n = len(m["passes"])
    v = dict.fromkeys(PER_LAYER, 0.0)
    v["session.start_s"] = median(m["session_starts"])
    for s in spans:
        name, c = s["name"], s.get("counters", {})
        if _SPAN_TIMES.get(name) in v:
            v[_SPAN_TIMES[name]] += (s["end"] - s["start"]) / n
        if name in ("construct", "action"):
            for k in _SPARK_COUNTERS:
                v[k] += c.get(k, 0.0) / n
            key = ("queries.construct_sql_execs" if name == "construct"
                   else "exec.sql_execs")
            v[key] += c.get("sql_execs", 0.0) / n
        if name == "audit.checks":
            v["audit.sql_execs"] += c.get("sql_execs", 0.0) / n
        if name == "pass":
            v["trace.overhead_s"] += sum(
                t["overhead"] for t in spans
                if t is s or _under(t, s["id"], tracer.spans)) / n
    for q, samples in m.get("per_query", {}).items():
        if f"query.{q}.construct_s" in v:
            v[f"query.{q}.construct_s"] = median(c for c, _ in samples)
            v[f"query.{q}.action_s"] = median(a for _, a in samples)
    v.update(m.get("layers", {}))
    v.update(_stream_layers(m.get("batches", []), n))
    return {k: _metric(v[k], PER_LAYER[k]) for k in PER_LAYER}


def _under(span: dict, ancestor: int, spans: list[dict]) -> bool:
    p = span["parent"]
    while p is not None:
        if p == ancestor:
            return True
        p = spans[p]["parent"]
    return False
