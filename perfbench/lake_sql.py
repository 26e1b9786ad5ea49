"""lake_sql: a fixed, seed-ordered mix of registry queries over the sf0.1 lake.

Each op runs one registry entry the way ``__spark_entry__.py`` serves it: the builder
(``catalog.load`` runs inside it, one schema-inference job per table read),
then planning with ``plans.inspect.executed_plan``, and collect.  The rows are
compared with the query's registered DuckDB oracle outside the timer.  The
lake is ``gen.lake``'s sf0.1 snapshot; ``--seed`` orders the queries.

Why this workload: the ops are short, so per-query fixed costs dominate --
schema-inference loads, Catalyst planning and job scheduling.  It re-reads
one lake snapshot (the case that fits the package's caches) and writes
nothing.  Every query here is JVM-only: no Python UDF runs in a worker.
"""

from __future__ import annotations

import datetime
import math
import random
from decimal import Decimal

import duckdb

from perfbench import gen

QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "agg_rollup",
    "agg_percentiles",
    "join_inner",
    "window_topk_per_group",
    "events_funnel",
)
OPS_PER_SECOND = 0.9  # warm ops per second measured at local[4] on the sf0.1 lake; sizes the pass
WARM_ROUNDS = 1  # warm-up passes over the warm-up lake; a second left the timed pass unchanged


def _cell(v):
    """Type-tagged cell: ints, floats and decimals never compare equal to
    each other, as in tests/oracle_harness.py."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("num", repr(v))
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, datetime.datetime):
        return ("ts", v.isoformat())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_cell(x) for x in v))
    return ("str", str(v))


def canonical(columns: list[str], rows) -> list[tuple]:
    """Order-insensitive form of a result: columns sorted by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def oracle_results(lake_dir: str, oracle_sql: dict[str, str]) -> dict[str, tuple]:
    con = duckdb.connect()
    try:
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake_dir}/{t}.parquet')")
        out = {}
        for q in QUERIES:
            cur = con.execute(oracle_sql[q])
            cols = [d[0] for d in cur.description]
            out[q] = (sorted(cols), canonical(cols, cur.fetchall()))
        return out
    finally:
        con.close()


class Workload:
    def __init__(self, seed: int, seconds: int, cache: str, run_dir: str):
        self.seed = seed
        self.seconds = seconds
        self.cache = cache

    def generate(self) -> None:
        import __spark_entry__ as entry

        self.builders = entry.queries()
        self.lake = gen.lake(self.cache)
        self.warm_lake = gen.lake(self.cache, warm=True)
        self.want = oracle_results(self.lake, entry.oracle_sql())

    def setup(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        if tracer.enabled:
            _trace_catalog_loads(tracer)
        for _ in range(WARM_ROUNDS):
            for q in QUERIES:
                self._run(q, "warmup", self.warm_lake)

    def _run(self, q: str, op_id: str, lake: str):
        from guidance_for_sap_data_integration_and_management_on_aws_spark.plans.inspect import (
            executed_plan,
        )

        tr = self.tracer
        with tr.span(op_id, "operators.build", "build"):
            df = self.builders[q](self.spark, lake)
        with tr.span(op_id, "plans.plan", "plan"):
            executed_plan(df)
        with tr.span(op_id, "operators.action", "action"):
            rows = df.collect()
        return df.columns, rows

    def ops(self) -> list:
        reps = max(1, round(self.seconds * OPS_PER_SECOND / len(QUERIES)))
        mix = [q for q in QUERIES for _ in range(reps)]
        random.Random(self.seed).shuffle(mix)
        return [(f"{i:03d}-{q}", self._op(f"{i:03d}-{q}", q)) for i, q in enumerate(mix)]

    def _op(self, op_id: str, q: str):
        def run():
            cols, rows = self._run(q, op_id, self.lake)

            def check():
                got = (sorted(cols), canonical(cols, rows))
                if got != self.want[q]:
                    raise AssertionError(f"{q}: result differs from its DuckDB oracle")

            return check

        return run


def _trace_catalog_loads(tracer) -> None:
    """Wrap ``catalog.load`` where the operator modules imported it, so each
    table load inside a builder gets its own span and job group.  Only the
    timed ops are traced: outside an op the wrapper just calls through."""
    import importlib

    from guidance_for_sap_data_integration_and_management_on_aws_spark import catalog

    real = catalog.load

    def load(spark, sf_dir, name):
        if not tracer.active_op():
            return real(spark, sf_dir, name)
        with tracer.span(tracer.active_op(), "catalog.load", "load"):
            return real(spark, sf_dir, name)

    pkg = "guidance_for_sap_data_integration_and_management_on_aws_spark"
    for m in ("relational", "tpch", "joins", "windows", "dedup"):
        mod = importlib.import_module(f"{pkg}.operators.{m}")
        if getattr(mod, "load", None) is real:
            mod.load = load
