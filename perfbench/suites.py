"""The ``series_suite`` workload: a list of ``queries.REGISTRY`` entries
run one after another on the reference testdata profile
(``tools/gen_sf.py`` with its default seed), each checked against its
DuckDB oracle twin outside the timed region, followed by the production
path (``production.py``).

An operation is one query: its ``q_*`` construction plus the action that
forces it (``collect()``, whose rows also feed the oracle compare), timed
separately. A pass runs the list in its fixed order, so the seed does not
change the suite's tables: in a fresh session the early queries pay
several seconds of start-up cost that later ones do not, so a seeded
order widened the run-to-run spread of the pass from about 0.05 to 0.12
(IQR/median). The seed shapes the production path's corpus layout.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import os
import time

# The bench.py HEADLINE entries that read events/lineitem/orders, plus
# the sketch-accuracy entry.
SERIES = [
    "flagship_pricing_summary", "border_summary_lineitem",
    "welford_suite_events", "robust_window_suite_events",
    "ema_suite_events", "percent_score_events", "salted_stats_lineitem",
    "welford_profile_events", "integrity_suite_lineitem_orders",
    "macd_cusum_events", "time_averages_events", "trend_suite_events",
    "asof_band_check_events", "combination_alicante_events",
    "filtering_check_events", "repair_suite_events",
    "iforest_retrain_events", "ks_exact_events",
    "clustering_retrain_events", "rrcf_stream_events",
    "recon_drift_events", "viz_report_events", "hll_accuracy_events",
]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# tables whose rows the suite validates (rows_per_s counts them once a pass)
SUITE_TABLES = ["lineitem", "orders", "events"]
# the reference profile: some other draws fail planted-invariant oracles
# at sf0.001 (rrcf_stream_events with seed 408), an engine defect
DATA_SEED = 42


def _load_tool(root: str, name: str):
    spec = importlib.util.spec_from_file_location(
        f"_perfbench_{name}", os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def suite_hash(names) -> str:
    return hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()[:16]


class RegistrySuite:
    name = "series_suite"

    def __init__(self, queries: list[str], sf: float, root: str, production):
        self.queries = list(queries)
        self.production = production
        self.sf = sf
        self.root = root
        self.gen = _load_tool(root, "gen_sf")
        self.oracles = _load_tool(root, "check_oracles")
        self.con = None  # DuckDB over the generated tables

    def materialize(self, spark, work: str, seed: int) -> None:
        import duckdb
        import pyarrow.parquet as pq

        self.close()

        self.sf_dir = os.path.join(work, f"sf{self.sf:g}")
        with contextlib.redirect_stdout(io.StringIO()):  # per-table lines
            self.gen.generate(self.sf, self.sf_dir, seed=DATA_SEED)
        self.rows = sum(pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet"))
                        .metadata.num_rows for t in SUITE_TABLES)
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{self.sf_dir}/{t}.parquet'")
        self.production.prepare(work, seed)

    def _oracle_diff(self, name, sql, rows, cols) -> str | None:
        """The canonical compare of tools/check_oracles.py; None if equal."""
        if sql is None:
            return None if rows else "zero rows (rows-only entry)"
        cur = self.con.execute(sql)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if sorted(cols) != sorted(ocols):
            return f"cols spark={sorted(cols)} oracle={sorted(ocols)}"
        if len(rows) != len(orows):
            return f"rowcount spark={len(rows)} oracle={len(orows)}"
        a = self.oracles.canon([tuple(r) for r in rows], cols)
        b = self.oracles.canon(orows, ocols)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:2]
            return f"values differ, first diffs: {diffs}"
        return None

    def measure(self, spark, seconds: float, tracer, ops) -> dict:
        from anomaly_detection_spark.queries import REGISTRY

        undo = self.production.wrap_layers(tracer)
        try:
            return self._measure(spark, seconds, tracer, ops, REGISTRY)
        finally:
            for u in undo:
                u()

    def _measure(self, spark, seconds, tracer, ops, registry) -> dict:
        prod = self.production
        passes, per_query = [], {}
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            t_pass = time.perf_counter()
            with tracer.span("pass", workload=self.name):
                results = {}
                for name in self.queries:
                    if name not in registry:
                        ops.attempted += 1
                        ops.fail(name, "not in queries.REGISTRY")
                        continue
                    fn, sql = registry[name]
                    res = ops.run(name, self._one, spark, tracer, name, fn)
                    if res is not None:
                        results[name] = (sql, res)
                prod.run(spark, tracer, ops)
            passes.append(time.perf_counter() - t_pass)
            # correctness, outside the timed pass
            for name, (sql, (c, a, rows, cols)) in results.items():
                per_query.setdefault(name, []).append((c, a))
                try:
                    diff = self._oracle_diff(name, sql, rows, cols)
                except Exception as ex:  # a broken oracle is a failed check
                    diff = f"oracle error: {type(ex).__name__}: {ex}"
                ops.check(name, diff is None, diff or "")
        return {"passes": passes,
                "rows": self.rows + prod.rows,
                "per_query": per_query,
                "layers": prod.layers(),
                "protocol": {"queries": len(self.queries),
                             "suite_hash": suite_hash(self.queries),
                             "sf": self.sf,
                             **prod.protocol(),
                             "query_s": {q: [c + a for c, a in v]
                                         for q, v in per_query.items()}}}

    def _one(self, spark, tracer, name, fn):
        with tracer.span("query", query=name):
            with tracer.span("construct", query=name, sql=True):
                t = time.perf_counter()
                df = fn(spark, self.sf_dir)
                construct_s = time.perf_counter() - t
            with tracer.span("action", query=name, sql=True):
                t = time.perf_counter()
                rows = df.collect()
                action_s = time.perf_counter() - t
        return construct_s, action_s, rows, df.columns

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
            self.con = None
