"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

They drive the workload classes on tiny inputs (two sf0.001 queries and
a small corpus, a short stream) in one local session, and the command
line in a directory without the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import env, layers  # noqa: E402
from perfbench.ops import Ops  # noqa: E402
from perfbench.spans import RETAIN_CONF, Tracer  # noqa: E402


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


@pytest.fixture(scope="module")
def spark(work):
    env.pin(ROOT, work)
    s = env.start_session("perfbench-tests", RETAIN_CONF)
    yield s
    s.stop()


def _measured(m, setups=(1.0,), starts=(0.5,)):
    return dict(m, setups=list(setups), session_starts=list(starts),
                peak_rss_mb=123.0)


def _assert_metrics(metrics, units):
    assert set(metrics) == set(units)
    for name, unit in units.items():
        assert metrics[name]["unit"] == unit, name
        assert isinstance(metrics[name]["value"], float), name


def _tiny_suite(queries):
    """Registry queries on sf0.001, then the production path on a small
    corpus."""
    from perfbench.production import ProductionPass
    from perfbench.suites import RegistrySuite
    return RegistrySuite(queries, 0.001, ROOT, ProductionPass(rows=2000))


def test_benchmark_json_matches_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"])
           for m in bench["end_to_end"]}
    assert e2e == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == [
        "series_suite", "stream_microbatch"]


def test_tiny_runs_print_every_metric_with_unit(spark, work):
    suite = _tiny_suite(["flagship_pricing_summary", "hll_accuracy_events"])
    suite.materialize(spark, os.path.join(work, "suite"), seed=1)
    for trace in (False, True):
        tracer, ops = Tracer(trace), Ops()
        tracer.attach(spark)
        m = _measured(suite.measure(spark, 0.0, tracer, ops))
        # two queries; corpus write, audited pass and resume pass
        assert (ops.attempted, ops.failed) == (5, 0), ops.failures
        if trace:
            metrics = layers.assemble(m, tracer)
            _assert_metrics(metrics, layers.PER_LAYER)
            assert metrics["exec.sql_execs"]["value"] >= 2
            assert metrics["query.hll_accuracy_events.action_s"]["value"] > 0
            for k in ("catalog.write_s", "constraints.construct_s",
                      "audit.checks_s", "audit.append_s", "audit.sql_execs",
                      "audit.bytes_written", "audit.resume_s"):
                assert metrics[k]["value"] > 0, k
        else:
            _assert_metrics(layers.end_to_end(m), {
                k: v[0] for k, v in layers.END_TO_END.items()})
    suite.close()


def test_stream_counts_match_batch(spark, work, monkeypatch):
    from perfbench import stream_microbatch as sm
    monkeypatch.setattr(sm, "FILES", 3)
    monkeypatch.setattr(sm, "ROWS_PER_FILE", 300)
    w = sm.StreamMicrobatch()
    w.materialize(spark, os.path.join(work, "stream"), seed=1)
    tracer, ops = Tracer(True), Ops()
    tracer.attach(spark)
    m = _measured(w.measure(spark, 0.0, tracer, ops))
    assert (ops.attempted, ops.failed) == (3, 0), ops.failures
    metrics = layers.assemble(m, tracer)
    assert metrics["stream.batches"]["value"] > 0
    assert metrics["python.udf_task_s"]["value"] > 0


def test_corrupted_result_is_a_failed_operation(spark, work, monkeypatch):
    from anomaly_detection_spark import queries
    name = "flagship_pricing_summary"
    fn, sql = queries.REGISTRY[name]
    monkeypatch.setitem(queries.REGISTRY, name,
                        (lambda s, d: fn(s, d).limit(1), sql))
    suite = _tiny_suite([name, "not_a_registry_query"])
    suite.materialize(spark, os.path.join(work, "corrupt"), seed=1)
    ops = Ops()
    suite.measure(spark, 0.0, Tracer(False), ops)
    suite.close()
    assert (ops.attempted, ops.failed) == (2 + 3, 2), ops.failures
    assert any("rowcount" in f for f in ops.failures)
    assert any("not in queries.REGISTRY" in f for f in ops.failures)


def test_command_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "series_suite",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
