"""The production path, run as the last part of each ``series_suite``
pass: write a code corpus in the catalog layout, validate it with
``run.main`` and the audit ledger, then run the same command again as a
resume pass.

The corpus is ``corpus.generate_code_corpus`` written with
``catalog.write_partitioned``; the seed shuffles which rows land in which
file and in what order. Row content, and so the planted violations,
depend only on the row count. The write is part of the pass, so work
moved between writing and validating still shows in the pass time.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time

ROWS = 10_000
BUCKETS = 16
FILES_PER_BUCKET_WRITE = 2
CODE_KINDS = ("bad_commit", "bad_lang", "empty", "huge")  # the Error codes


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _main(args: list[str]) -> dict:
    from anomaly_detection_spark import run

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(args)
    if code != 0:
        raise RuntimeError(f"run.main exited {code}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


class ProductionPass:
    def __init__(self, rows: int = ROWS):
        from anomaly_detection_spark.corpus import expected_violation_ids

        self.rows = rows
        exp = expected_violation_ids(rows)
        self.expected_errors = sum(len(exp[k]) for k in CODE_KINDS)
        self.resumes: list[float] = []
        self.ledger_bytes: list[int] = []
        self._passes = 0

    def prepare(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed

    def _write(self, spark, path: str) -> bool:
        from pyspark.sql import functions as F

        from anomaly_detection_spark.catalog import write_partitioned
        from anomaly_detection_spark.corpus import generate_code_corpus

        df = (generate_code_corpus(spark, self.rows)
              .withColumn("_k", F.rand(self.seed))
              .repartition(FILES_PER_BUCKET_WRITE, "_k")
              .sortWithinPartitions("_k").drop("_k"))
        write_partitioned(df, path, n_buckets=BUCKETS)
        return True

    def run(self, spark, tracer, ops) -> None:
        """One pass: write, audited validation, resume; each is an
        operation, and each result is checked."""
        corpus = os.path.join(self.work, f"corpus{self._passes}")
        ledger = os.path.join(self.work, f"ledger{self._passes}")
        self._passes += 1
        args = ["--input", corpus, "--partitioned-input", "--audit", ledger,
                "--json"]
        try:
            with tracer.span("catalog.write"):
                if not ops.run("corpus write", self._write, spark, corpus):
                    return
            with tracer.span("action", kind="audited", sql=True):
                res = ops.run("audited pass", _main, args)
            with tracer.span("action", kind="resume", sql=True):
                t = time.perf_counter()
                again = ops.run("resume pass", _main, args)
                self.resumes.append(time.perf_counter() - t)
            if res is not None:
                ops.check("audited pass",
                          res["rows"] == self.rows
                          and res["errors"] == self.expected_errors,
                          f"rows={res['rows']} errors={res['errors']}, "
                          f"expected {self.rows} and {self.expected_errors}")
            if again is not None:
                ops.check("resume pass", again["rows"] == 0,
                          f"resume validated {again['rows']} rows")
            self.ledger_bytes.append(_dir_bytes(ledger))
        finally:
            shutil.rmtree(corpus, ignore_errors=True)
            shutil.rmtree(ledger, ignore_errors=True)

    def wrap_layers(self, tracer) -> list:
        """Span the engine functions the production path calls (traced
        run only); returns undo callables."""
        from anomaly_detection_spark import audit
        from anomaly_detection_spark.operators import constraints

        return [
            tracer.wrap(constraints, "corpus_constraint_codes",
                        "constraints.construct"),
            tracer.wrap(audit, "run_partitioned_checks", "audit.checks",
                        sql=True),
            tracer.wrap(audit.AuditLedger, "append", "audit.append"),
            tracer.wrap(audit.AuditLedger, "committed", "audit.committed"),
        ]

    def layers(self) -> dict:
        from statistics import median

        out = {}
        if self.resumes:
            out["audit.resume_s"] = median(self.resumes)
        if self.ledger_bytes:
            out["audit.bytes_written"] = median(self.ledger_bytes)
        return out

    def protocol(self) -> dict:
        return {"corpus_rows": self.rows,
                "corpus_expected_errors": self.expected_errors,
                "corpus_buckets": BUCKETS,
                "corpus_files_per_bucket_write": FILES_PER_BUCKET_WRITE}
