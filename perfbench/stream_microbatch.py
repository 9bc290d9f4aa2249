"""Streaming workload: a seeded value stream, pre-written as parquet files,
consumed by three pipelines with ``availableNow`` at one file per trigger.

This is a closed loop: a trigger takes the next file only after the
previous micro-batch commits. The pipelines are the engine's streaming
builders:

* ``stream.with_constraint_codes`` + ``stream.windowed_error_rates``
  (watermarked windows, state store);
* ``stateful.streaming_ema_check`` and ``stateful.streaming_welford_check``
  (``applyInPandasWithState``).

Outputs go to a noop sink; an ``observe`` node on each output counts rows
and verdicts per micro-batch, read back from ``StreamingQueryProgress``.
After timing, the counts are compared with batch computations over the
same files.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

FILES = 5
ROWS_PER_FILE = 2_000
KEYS = 16
SCHEMA = "key string, order double, value double, ts timestamp"
EMA = dict(N=5, LL=0.0, UL=40.0, warning_stages=(0.9,))
WELFORD_X = 3.0


def _codes(F):
    return {
        "c_value_border": F.when(F.col("value") > 45, -1)
        .when(F.col("value") > 35, 0).otherwise(1),
        "c_key_domain": F.when(F.col("key").isNotNull(), 1).otherwise(-1),
    }


def _verdict_counts(F, col):
    return [F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col(col) == -1, 1).otherwise(0)).alias("n_error"),
            F.sum(F.when(F.col(col) == 0, 1).otherwise(0)).alias("n_warning"),
            F.sum(F.when(F.col(col) == 2, 1).otherwise(0)).alias("n_undefined")]


class StreamMicrobatch:
    name = "stream_microbatch"

    def materialize(self, spark, work: str, seed: int) -> None:
        import pandas as pd

        self.work = work
        self.src = os.path.join(work, "stream-src")
        shutil.rmtree(self.src, ignore_errors=True)
        os.makedirs(self.src)
        rng = np.random.default_rng(seed)
        n = FILES * ROWS_PER_FILE
        order = np.arange(n, dtype=np.float64)
        value = (20.0 + 10.0 * np.sin(order / (97.0 + seed % 13))
                 + rng.normal(0.0, 2.0, n))
        spikes = rng.random(n) < 0.002
        value[spikes] += rng.uniform(30.0, 200.0, spikes.sum())
        frame = pd.DataFrame({
            "key": (rng.integers(0, KEYS, n)).astype(str),
            "order": order,
            "value": np.round(value, 2),
            "ts": pd.Timestamp("2026-01-01")
            + pd.to_timedelta(order * 0.05, unit="s"),
        })
        frame["ts"] = frame["ts"].astype("datetime64[us]")
        t0 = time.time() - FILES
        for i in range(FILES):
            path = os.path.join(self.src, f"part-{i:05d}.parquet")
            frame.iloc[i * ROWS_PER_FILE:(i + 1) * ROWS_PER_FILE] \
                .to_parquet(path, index=False)
            os.utime(path, (t0 + i, t0 + i))  # the file source reads in mtime order
        self.rows = n
        self._runs = 0

    # --- pipelines -------------------------------------------------------
    def _pipelines(self, F):
        from anomaly_detection_spark.streaming import stateful, stream

        def windowed(src):
            checked = stream.with_constraint_codes(src, _codes(F))
            out = stream.windowed_error_rates(
                checked, ts_col="ts", code_cols=list(_codes(F)),
                window="10 seconds", watermark="20 seconds")
            return out.observe("out", F.count(F.lit(1)).alias("windows"),
                               F.sum("n").alias("n"),
                               F.sum("n_error").alias("n_error"),
                               F.sum("n_warning").alias("n_warning"))

        def ema(src):
            out = stateful.streaming_ema_check(
                src.select("key", "order", "value"), **EMA)
            return out.observe("out", *_verdict_counts(F, "code"))

        def welford(src):
            out = stateful.streaming_welford_check(
                src.select("key", "order", "value"), X=WELFORD_X)
            return out.observe("out", *_verdict_counts(F, "code"))

        return {"windowed": windowed, "ema": ema, "welford": welford}

    def _drain(self, spark, build, tracer, name):
        """Run one pipeline to the end of the source; returns progress."""
        ckpt = os.path.join(self.work, f"ckpt-{self._runs}")
        self._runs += 1
        with tracer.span("construct", pipeline=name):
            src = (spark.readStream.schema(SCHEMA)
                   .option("maxFilesPerTrigger", 1).parquet(self.src))
            out = build(src)
        with tracer.span("action", pipeline=name, sql=True):
            q = (out.writeStream.format("noop")
                 .option("checkpointLocation", ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
            try:
                q.awaitTermination()
            finally:
                q.stop()
            progress = [p for p in q.recentProgress if p]
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        shutil.rmtree(ckpt, ignore_errors=True)
        return progress

    # --- correctness -----------------------------------------------------
    def _batch_truth(self, spark, F):
        from anomaly_detection_spark.operators import sequential, windowed

        df = spark.read.schema(SCHEMA).parquet(self.src)
        ema = sequential.ema_check(df, "key", "order", "value", **EMA)
        wf = windowed.welford_streaming(df, "key", "order", "value",
                                        X=WELFORD_X)
        truth = {}
        for name, out in (("ema", ema), ("welford", wf)):
            r = out.agg(*_verdict_counts(F, "code")).first()
            truth[name] = r.asDict()
        return truth

    def _windowed_truth(self, spark, F, watermark: str):
        from anomaly_detection_spark.streaming import stream

        df = spark.read.schema(SCHEMA).parquet(self.src)
        w = stream.windowed_error_rates(
            stream.with_constraint_codes(df, _codes(F)), ts_col="ts",
            code_cols=list(_codes(F)), window="10 seconds",
            watermark="20 seconds")
        closed = w.filter(F.col("win_end") <= F.lit(watermark).cast("timestamp"))
        r = closed.agg(F.count(F.lit(1)).alias("windows"),
                       F.sum("n").alias("n"), F.sum("n_error").alias("n_error"),
                       F.sum("n_warning").alias("n_warning")).first()
        return r.asDict()

    @staticmethod
    def _observed(progress) -> dict:
        tot: dict = {}
        for p in progress:
            row = (p.get("observedMetrics") or {}).get("out")
            for k, v in (row.asDict() if row is not None else {}).items():
                tot[k] = tot.get(k, 0) + (v or 0)
        return tot

    def _check(self, spark, F, ops, name, progress, truth):
        got = self._observed(progress)
        if name == "windowed":
            wm = progress[-1]["eventTime"].get("watermark")
            want = self._windowed_truth(spark, F, wm.replace("T", " ").rstrip("Z"))
            ok = all(got.get(k, 0) == (want[k] or 0) for k in want)
            why = f"windows streamed {got} vs batch {want} (watermark {wm})"
        else:
            want = truth[name]
            ok = got.get("n") == self.rows and all(
                got.get(k, 0) == (want[k] or 0) for k in want)
            why = f"rows in {self.rows}; streamed {got} vs batch {want}"
        ops.check(name, ok, why)

    def measure(self, spark, seconds: float, tracer, ops) -> dict:
        from pyspark.sql import functions as F

        builds = self._pipelines(F)
        passes, batches, runs = [], [], []
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            t = time.perf_counter()
            with tracer.span("pass"):
                for name, build in builds.items():
                    prog = ops.run(name, self._drain, spark, build, tracer,
                                   name)
                    if prog is not None:
                        runs.append((name, prog))
            passes.append(time.perf_counter() - t)
        truth = self._batch_truth(spark, F)
        for name, prog in runs:
            try:
                self._check(spark, F, ops, name, prog, truth)
            except Exception as ex:  # a check that cannot run is a failure
                ops.fail(name, f"check error: {type(ex).__name__}: {ex}")
            # a query's first batch also starts it (workers, codegen)
            batches.extend(p for p in prog[1:] if p.get("numInputRows", 0) > 0)
        return {"passes": passes, "rows": self.rows * len(builds),
                "batches": batches,
                "protocol": {"files": FILES, "rows_per_file": ROWS_PER_FILE,
                             "keys": KEYS, "files_per_trigger": 1,
                             "loop": "closed"}}

    def close(self) -> None:
        pass
