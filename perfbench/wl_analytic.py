"""analytic_mix: read-only. A fixed list of registered queries over a
generated TPC-H-shaped data set, run in rounds, each round in a
seed-shuffled order. The timed op builds the query's plan and collects
its rows; after the loop every result is compared with its query's
DuckDB oracle, untimed.

Layers exercised: ``plans``, ``io`` and the stateless operators, including
the Python/Arrow workers of the LLM-surface queries. Writes nothing, so
sink, commit and storage changes should not move it.
"""

from __future__ import annotations

import math
import os

import numpy as np

import gen
from common import Op

# The relational head, two TPC-H joins and the LLM-surface queries; the
# rest of the TPC-H join family (q2, q7, q8, q13, q17, q21), ts1 and
# l4_token_stats are left out to keep a cold warm-up round inside the
# run's time budget.
QUERIES = (
    # relational and TPC-H
    "q1_pricing_summary", "j1_inner_segment_revenue", "j5_anti_customers_without_big_orders",
    "w1_top3_orders_per_segment", "a5_rollup_lineitem_status", "j8_asof_error_after_click",
    "tpch_q9_product_profit", "tpch_q18_large_orders",
    # LLM surface: Python/Arrow workers
    "l1_exact_dedup", "l2_minhash_lsh_pairs", "l3_knn_bruteforce", "l4_bm25_topk",
)
SCALE = 0.01  # 60k lineitem rows: queries are bound by job latency, as at sf0.1


class Workload:
    name = "analytic_mix"

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tr = tracer

    def setup(self, spark, work: str) -> None:
        from weather_etl_docker_airflow_project_spark.plans import catalog

        self.spark = spark
        self.data = os.path.join(work, "data")
        gen.write_analytic_tables(self.seed, self.data, SCALE)
        self.specs = [catalog.REGISTRY[n] for n in QUERIES]
        self.results: list[tuple[Op, object, list]] = []  # (op, spec, rows) of every timed run
        for spec in self.specs:
            self._run(spec)

    def _run(self, spec) -> list:
        with self.tr.span("plans.build", query=spec.name):
            df = spec.fn(self.spark, self.data)
        with self.tr.span("plans.exec", query=spec.name) as s:
            rows = df.collect()
            if s is not None:
                s.attrs["rows_out"] = len(rows)
        return rows

    def ops(self):
        rng = np.random.default_rng(self.seed)
        while True:
            order = rng.permutation(len(self.specs))
            for i, q in enumerate(order):
                spec = self.specs[q]
                op = Op("read", spec.name, lambda s=spec: self._run(s), None, boundary=i == len(order) - 1)
                op.check = lambda rows, op=op, s=spec: self.results.append((op, s, rows))
                yield op

    def finish(self) -> list[tuple[Op | None, str]]:
        """Every timed result against its query's DuckDB oracle, run once
        per query (a query without one must return rows)."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in os.listdir(self.data):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{self.data}/{t}')")
            oracles: dict[str, tuple[list, list]] = {}
            errors = []
            for op, spec, got in self.results:
                if spec.oracle is None:
                    if not got:
                        errors.append((op, f"{spec.name}: no rows"))
                    continue
                if spec.name not in oracles:
                    res = con.execute(spec.oracle)
                    oracles[spec.name] = [d[0] for d in res.description], _canon(res.fetchall())
                cols, want = oracles[spec.name]
                if list(got[0].__fields__ if got else cols) != cols or _canon(got) != want:
                    errors.append((op, f"{spec.name}: differs from its DuckDB oracle "
                                       f"({len(got)} rows, oracle {len(want)})"))
            return errors
        finally:
            con.close()

    def report(self) -> dict:
        return {}


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _canon(rows) -> list:
    out = [tuple(_norm(v) for v in r) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
