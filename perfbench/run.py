"""Benchmark of the validation engine.

    python3 perfbench/run.py --workload series_suite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run sets the workload up several
times, each time in a new driver JVM (Spark session start and input
materialization), and reports the median set-up time; it then runs the
JVM-only calibration probe, measures whole passes of the workload until
``--seconds`` have gone by (at least one), checks every operation's
output, and prints one JSON object as the last line of standard output:
``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones (``layers.py``), and the spans are written to
``.perfbench_out/``. The line before the result holds the run's protocol:
pinned environment, load average, calibration probe, suite hash, samples.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2
WORKLOADS = ("series_suite", "stream_microbatch")


def _workload(name: str):
    from perfbench.production import ProductionPass
    from perfbench.stream_microbatch import StreamMicrobatch
    from perfbench.suites import SERIES, RegistrySuite

    if name == "series_suite":
        return RegistrySuite(SERIES, 0.001, ROOT, ProductionPass())
    return StreamMicrobatch()


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "anomaly_detection_spark",
                                       "__init__.py")):
        print(f"perfbench: engine package not found under {ROOT}",
              file=sys.stderr)
        return 2
    # import the benchmark as a package from the checkout root, never
    # its modules from the script directory (they would shadow stdlib names)
    sys.path[:] = [ROOT] + [q for q in sys.path if os.path.abspath(q or ".") != HERE]

    from perfbench import env
    from perfbench.layers import LAYER_MOVES, assemble, end_to_end
    from perfbench.ops import Ops
    from perfbench.spans import RETAIN_CONF, Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    pinned = env.pin(ROOT, work)
    conf = dict(RETAIN_CONF, **{"spark.driver.extraJavaOptions": env.java_options(work)})

    workload = _workload(args.workload)
    tracer = Tracer(bool(args.trace))
    ops = Ops()
    load_before = env.loadavg()
    spark = None
    try:
        with env.RssSampler() as rss:
            setups, starts = [], []
            for _ in range(SETUPS):
                if spark is not None:
                    _stop(spark)  # the next set-up launches a new JVM
                t = time.perf_counter()
                spark = env.start_session(f"perfbench-{args.workload}", conf)
                starts.append(time.perf_counter() - t)
                workload.materialize(spark, work, args.seed)
                setups.append(time.perf_counter() - t)
            first_job_s, calibration_s = env.calibration_probe(spark)
            tracer.attach(spark)
            measured = workload.measure(spark, args.seconds, tracer, ops)
        load_after = env.loadavg()
        workload.close()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(work))

    measured.update(setups=setups, session_starts=starts,
                    peak_rss_mb=rss.peak_mb)
    if args.trace:
        metrics = assemble(measured, tracer)
        tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}.json"),
            layer_moves=LAYER_MOVES)
    else:
        metrics = end_to_end(measured)
    protocol = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": env.nproc(),
        "driver_mem": pinned["SPARK_GRAFT_DRIVER_MEM"],
        "spark_local_dirs": os.path.relpath(pinned["SPARK_LOCAL_DIRS"], ROOT),
        "loadavg_before": load_before, "loadavg_after": load_after,
        "calibration_probe_s": calibration_s, "first_job_s": first_job_s,
        "peak_rss_mb_by_process": {k: v / 1024.0 for k, v in rss.peak_by_name.items()},
        "setup_samples_s": setups, "session_start_samples_s": starts,
        "pass_samples_s": measured["passes"],
        "ops_failed_frac": ops.failed / max(ops.attempted, 1),
        "failures": ops.failures[:20],
        **measured.get("protocol", {}),
    }
    result = {"correct": ops.failed == 0, "attempted": ops.attempted,
              "failed": ops.failed, "metrics": metrics}
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({"protocol": protocol, "result": result}, f, indent=1)
    print(json.dumps({"protocol": protocol}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
